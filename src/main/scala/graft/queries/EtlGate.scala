package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.etl.{Fixtures, Lake, ManifestLake, Vcf}

/** Correctness-gate entries for the reference's own ETL product: the
  * VCF → annotate → two-level-fold → partitioned-lake pipeline
  * (ImportVcfToDataLakeByRanges.java:43-79) run end-to-end on the
  * reference's checked-in fixtures, with a full DuckDB re-derivation as
  * the oracle.
  *
  * These queries ignore the scale-factor dir argument — their input is
  * the genomic fixture set (absolute paths, see graft.etl.Fixtures), the
  * same on the Spark and DuckDB sides.
  *
  * Serialization contract (both sides, so results hash-match):
  *  - nested evidence struct → "id|qual|ad" with qual emitted as a
  *    DECIMAL(10,2) string (scale-pinned — float-to-string shortest-repr
  *    is not contractual across engines);
  *  - struct arrays → elements serialized, string-deduped, string-sorted,
  *    joined — sorting the SERIALIZED strings on both sides sidesteps
  *    Spark struct-comparison vs DuckDB row-comparison order differences;
  *  - every nullable field wrapped in coalesce(_, '∅') so fields can't
  *    shift position (concat_ws silently skips bare nulls in BOTH
  *    engines, which would make distinct structs collide).
  */
object EtlGate {

  /** Null sentinel for serialized fields. */
  private val S = "∅"

  /** Scratch dir for the gate's write→read-back round trips, removed
    * recursively on JVM exit so repeated verification rounds don't
    * accumulate orphaned lake copies under /tmp.
    */
  private def scratchDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir.toFile)
    }))
    dir.toString
  }

  private def str(c: Column): Column = coalesce(c.cast("string"), lit(S))

  /** Evidence struct → "id|qual|ad" (qual scale-pinned, see scaladoc). */
  private def evStr(e: Column): Column =
    concat_ws("|",
      str(e.getField("id")),
      str(e.getField("qual").cast("decimal(10,2)")),
      str(e.getField("ad")))

  /** Serialize, string-dedup, string-sort, join an array column. */
  private def packStrings(arr: Column, sep: String): Column =
    array_join(sort_array(array_distinct(arr)), sep)

  /** Lake row → (chrom, pos_bucket, pos, entries-as-string). */
  private def serializeLake(lake: DataFrame): DataFrame = {
    val entryStr = (en: Column) =>
      concat_ws("|",
        str(en.getField("ref")), str(en.getField("alt")),
        str(en.getField("impact")), str(en.getField("dbSNP")),
        str(en.getField("gnomad_an")), str(en.getField("gnomad_ac")),
        str(en.getField("gnomad_nhomalt")), str(en.getField("hg38_coordinate")),
        str(en.getField("alphamissense").cast("decimal(5,2)")),
        packStrings(transform(en.getField("hom"), evStr(_)), ","),
        packStrings(transform(en.getField("het"), evStr(_)), ","))
    lake.select(
      col("chrom"),
      // partition-column read-back infers int32; the oracle computes BIGINT
      col("pos_bucket").cast("long").as("pos_bucket"),
      col("pos"),
      packStrings(transform(col("entries"), entryStr), ";").as("entries"))
      .orderBy(col("chrom"), col("pos_bucket"), col("pos"))
  }

  // ---------------- DuckDB oracle fragments ----------------

  /** Tolerant all-varchar VCF scan with provenance, mirroring Vcf.raw:
    * `#`-prefixed lines filtered BEFORE tokenization, sample id = file
    * basename up to the first dot. quote='' because VCF meta lines
    * contain unbalanced quotes that must not trigger CSV quoting.
    */
  private def sqlVcfRaw(glob: String): String =
    s"""SELECT split_part(split_part(filename, '/', -1), '.', 1) AS sample_id,
       |  filename AS src_file,
       |  column00 AS chrom, column01 AS pos, column03 AS ref, column04 AS alt,
       |  column05 AS qual, column09 AS last
       |FROM read_csv('$glob', sep='\t', header=false, all_varchar=true,
       |  filename=true, quote='',
       |  column_names=['column00','column01','column02','column03','column04','column05','column06','column07','column08','column09'])
       |WHERE column00 NOT LIKE '#%'""".stripMargin

  /** Mirror of Vcf.normalize + the evidence serialization contract. */
  private def sqlNorm(vcfGlob: String): String =
    s"""WITH vcf_raw AS (
       |${sqlVcfRaw(vcfGlob)}
       |),
       |norm AS (
       |  SELECT split_part(chrom, '_', 1) AS chrom,
       |    try_cast(pos AS INTEGER) AS pos, ref, alt,
       |    last LIKE '1/1%' AS is_hom,
       |    concat_ws('|', sample_id,
       |      coalesce(CAST(CAST(try_cast(qual AS REAL) AS DECIMAL(10,2)) AS VARCHAR), '$S'),
       |      coalesce(string_split(last, ':')[2], '$S')) AS ev
       |  FROM vcf_raw
       |)""".stripMargin

  /** Full DuckDB re-derivation of Lake.build + serializeLake.
    *
    * Oracle fidelity note: the impact CTE uses SELECT DISTINCT over the
    * full row where the Spark side runs dropDuplicates on the 4-column
    * key with an arbitrary survivor (reference quirk, A1). These agree
    * because the reference's data contract guarantees duplicate impact
    * rows across batches carry the SAME trimmed IMPACT value (its own
    * test asserts this) — if that contract ever breaks, this oracle
    * fans out where Spark picks one row, and the mismatch points here.
    *
    * @param dbSnpSql  oracle fragment producing (chrom,pos,ref,alt,dbSNP)
    * @param gnomadSel oracle fragment producing the gnomad annotation side
    */
  private def sqlLake(vcfGlob: String, impactGlob: String, dbSnpSql: String,
                      gnomadSql: String, alphaDir: String): String =
    s"""${sqlNorm(vcfGlob)},
       |impact AS (
       |  SELECT DISTINCT 'chr' || upper(CHROM) AS chrom, try_cast(POS AS INTEGER) AS pos,
       |    REF AS ref, ALT AS alt, trim(IMPACT) AS impact
       |  FROM read_csv('$impactGlob', sep='\t', header=true, all_varchar=true)
       |),
       |dbsnp AS (
       |$dbSnpSql
       |),
       |gnomad AS (
       |$gnomadSql
       |),
       |alpha AS (
       |  SELECT 'chr' || upper(split_part(split_part(filename, '/', -1), '.', 1)) AS chrom,
       |    CAST(POS AS INTEGER) AS pos, A, C, G, T
       |  FROM read_parquet('$alphaDir/*.parquet', filename=true)
       |),
       |annotated AS (
       |  SELECT n.*, i.impact, d.dbSNP, g.gnomad_an, g.gnomad_ac, g.gnomad_nhomalt,
       |    g.hg38_coordinate,
       |    CASE
       |      WHEN n.ref='A' AND a.A=0 AND n.alt='C' THEN a.C
       |      WHEN n.ref='A' AND a.A=0 AND n.alt='G' THEN a.G
       |      WHEN n.ref='A' AND a.A=0 AND n.alt='T' THEN a.T
       |      WHEN n.ref='C' AND a.C=0 AND n.alt='A' THEN a.A
       |      WHEN n.ref='C' AND a.C=0 AND n.alt='G' THEN a.G
       |      WHEN n.ref='C' AND a.C=0 AND n.alt='T' THEN a.T
       |      WHEN n.ref='G' AND a.G=0 AND n.alt='A' THEN a.A
       |      WHEN n.ref='G' AND a.G=0 AND n.alt='C' THEN a.C
       |      WHEN n.ref='G' AND a.G=0 AND n.alt='T' THEN a.T
       |      WHEN n.ref='T' AND a.T=0 AND n.alt='A' THEN a.A
       |      WHEN n.ref='T' AND a.T=0 AND n.alt='C' THEN a.C
       |      WHEN n.ref='T' AND a.T=0 AND n.alt='G' THEN a.G
       |    END AS alphamissense
       |  FROM norm n
       |  LEFT JOIN impact i USING (chrom, pos, ref, alt)
       |  LEFT JOIN dbsnp d USING (chrom, pos, ref, alt)
       |  LEFT JOIN gnomad g USING (chrom, pos, ref, alt)
       |  LEFT JOIN alpha a USING (chrom, pos)
       |),
       |per_variant AS (
       |  SELECT chrom, pos, ref, alt, impact, dbSNP, gnomad_an, gnomad_ac,
       |    gnomad_nhomalt, hg38_coordinate, alphamissense,
       |    coalesce(array_to_string(list_sort(list_distinct(list(ev) FILTER (is_hom))), ','), '') AS hom,
       |    coalesce(array_to_string(list_sort(list_distinct(list(ev) FILTER (NOT is_hom))), ','), '') AS het
       |  FROM annotated
       |  GROUP BY ALL
       |),
       |entry_rows AS (
       |  SELECT chrom, CAST(floor(pos / 100000.0) AS BIGINT) AS pos_bucket, pos,
       |    concat_ws('|',
       |      coalesce(ref, '$S'), coalesce(alt, '$S'), coalesce(impact, '$S'),
       |      coalesce(dbSNP, '$S'),
       |      coalesce(CAST(gnomad_an AS VARCHAR), '$S'),
       |      coalesce(CAST(gnomad_ac AS VARCHAR), '$S'),
       |      coalesce(CAST(gnomad_nhomalt AS VARCHAR), '$S'),
       |      coalesce(hg38_coordinate, '$S'),
       |      coalesce(CAST(CAST(alphamissense AS DECIMAL(5,2)) AS VARCHAR), '$S'),
       |      hom, het) AS entry
       |  FROM per_variant
       |)
       |SELECT chrom, pos_bucket, pos,
       |  array_to_string(list_sort(list_distinct(list(entry))), ';') AS entries
       |FROM entry_rows
       |GROUP BY chrom, pos_bucket, pos
       |ORDER BY chrom, pos_bucket, pos""".stripMargin

  /** hg19/hg38 dbSNP: positional TSV with `#` header filter (S4). */
  private def sqlDbSnpTsv(path: String): String =
    s"""  SELECT 'chr' || upper(column00) AS chrom, try_cast(column01 AS INTEGER) AS pos,
       |    column02 AS ref, column03 AS alt, column04 AS dbSNP
       |  FROM read_csv('$path', sep='\t', header=false, all_varchar=true, quote='',
       |    column_names=['column00','column01','column02','column03','column04'])
       |  WHERE column00 NOT LIKE '#%'""".stripMargin

  /** T2T dbSNP: parquet files whose CHROM column physically conflicts
    * across files (int64 vs string) — the reader must skip it and
    * re-derive chrom from the file name, `c`-removal quirk included
    * (ImportVcfToDataLakeByRanges.java:163-180).
    */
  private def sqlDbSnpT2t(glob: String): String =
    s"""  SELECT 'chr' || upper(replace(split_part(split_part(split_part(filename, '/', -1), '.', 1), '_', 1), 'c', '')) AS chrom,
       |    CAST(POS AS INTEGER) AS pos, REF AS ref, ALT AS alt, SNP AS dbSNP
       |  FROM read_parquet('$glob', filename=true, union_by_name=true)""".stripMargin

  /** gnomAD parquet; `withHg38=false` models the declared-but-absent
    * hg38_coordinates column (reads as NULL, S5 tolerance).
    */
  private def sqlGnomad(dir: String): String =
    s"""  SELECT 'chr' || upper(replace(split_part(split_part(split_part(filename, '/', -1), '.', 1), '_', 1), 'c', '')) AS chrom,
       |    CAST(POS AS INTEGER) AS pos, REF AS ref, ALT AS alt,
       |    gnomad_an, gnomad_ac, gnomad_nhomalt, CAST(NULL AS VARCHAR) AS hg38_coordinate
       |  FROM read_parquet('$dir/*.parquet', filename=true)""".stripMargin

  val all: Seq[Q] = Seq(

    // S1 (glob + gzip text scan), S2 (from_csv over lines), F1 (header
    // prefix filter), S9 (provenance), P1/P2 (normalize projections):
    // one flattened row per (variant, sample) with zygosity + evidence.
    Q(
      "q40_vcf_normalize",
      (s, _) => {
        val m = Vcf.mutations(s, Fixtures.hg19Vcfs)
        val ev = coalesce(col("hom_ev"), col("het_ev"))
        m.select(
          col("chrom"), col("pos"), col("ref"), col("alt"),
          when(col("hom_ev").isNotNull, lit("hom")).otherwise(lit("het")).as("zygosity"),
          ev.getField("id").as("sample_id"),
          str(ev.getField("qual").cast("decimal(10,2)")).as("qual"),
          str(ev.getField("ad")).as("ad"))
          .orderBy(col("chrom"), col("pos"), col("ref"), col("alt"), col("sample_id"))
      },
      Some(
        s"""${sqlNorm(Fixtures.hg19Vcfs + "*.vcf.gz")}
           |SELECT chrom, pos, ref, alt,
           |  CASE WHEN is_hom THEN 'hom' ELSE 'het' END AS zygosity,
           |  split_part(ev, '|', 1) AS sample_id,
           |  split_part(ev, '|', 2) AS qual,
           |  split_part(ev, '|', 3) AS ad
           |FROM norm
           |ORDER BY chrom, pos, ref, alt, sample_id""".stripMargin)),

    // The reference's whole product (hg19 branch): parse → 4 left joins
    // → per-variant fold → per-position fold → PARTITIONED LAKE WRITE →
    // read-back (K1, D1, D3, D4, D5 run inside the query; golden anchor
    // 1622 rows, ImportVcfToDataLakeByRangesTest.java:37).
    Q(
      "q41_lake_entries",
      (s, _) => {
        val lake = Lake.build(s, Fixtures.hg19Vcfs, Fixtures.hg19Impact,
          Fixtures.hg19DbSnp, t2t = false, Fixtures.gnomadHg38, Fixtures.alphaHg19)
        val out = scratchDir("graft-gate-lake")
        Lake.write(lake, out)
        serializeLake(s.read.parquet(out))
      },
      Some(sqlLake(
        Fixtures.hg19Vcfs + "*.vcf.gz", Fixtures.hg19Impact,
        sqlDbSnpTsv(Fixtures.hg19DbSnp), sqlGnomad(Fixtures.gnomadHg38),
        Fixtures.alphaHg19))),

    // T2T branch: uncompressed VCF, parquet dbSNP with the conflicting
    // CHROM column skipped (S5 explicit schema) and chrom re-derived
    // from the file name (`c`-removal quirk), gnomAD without
    // hg38_coordinates (absent-column tolerance).
    Q(
      "q42_lake_t2t",
      (s, _) => {
        val lake = Lake.build(s, Fixtures.t2tVcfs, Fixtures.t2tImpact,
          Fixtures.t2tDbSnp, t2t = true, Fixtures.gnomadT2t, Fixtures.alphaT2t)
        val out = scratchDir("graft-gate-lake-t2t")
        Lake.write(lake, out)
        serializeLake(s.read.parquet(out))
      },
      Some(sqlLake(
        Fixtures.t2tVcfs, Fixtures.t2tImpact,
        sqlDbSnpT2t(Fixtures.t2tDbSnp + ".parquet"),
        sqlGnomad(Fixtures.gnomadT2t), Fixtures.alphaT2t))),

    // A4 (multi-column exact countDistinct ×3) + K2/D2/S8: the status
    // row round-trips through the single-file JSON append log before
    // being emitted (timestamp dropped — inherently non-hashable).
    Q(
      "q43_status",
      (s, _) => {
        val status = Vcf.status(s, Fixtures.hg19Vcfs)
        val log = scratchDir("graft-gate-status") + "/log"
        Lake.writeStatus(status, log)
        s.read.json(log)
          .select(col("coordinates_num"), col("mutations_num"), col("samples_num"))
      },
      Some(
        s"""WITH vcf_raw AS (
           |${sqlVcfRaw(Fixtures.hg19Vcfs + "*.vcf.gz")}
           |)
           |SELECT
           |  COUNT(DISTINCT chrom || '|' || pos) AS coordinates_num,
           |  COUNT(DISTINCT chrom || '|' || pos || '|' || ref || '|' || alt) AS mutations_num,
           |  COUNT(DISTINCT src_file) AS samples_num
           |FROM vcf_raw""".stripMargin)),

    // Lake compaction under the oracle: write a many-tiny-files
    // two-level hive lake from `documents` (unlike the fixture-driven
    // gates above, this one DOES read the sf dir), adopt it as a
    // manifest table in place, compact it, and hash the read-back
    // content against DuckDB computing the same aggregates from the
    // source table directly — compaction must be invisible to every
    // reader. The order-independent md5 checksum over text pins row
    // content, not just counts; CompactionSpec separately pins the
    // file-count mechanics.
    Q(
      "q75_compact_roundtrip",
      (s, dir) => {
        val out = scratchDir("graft-gate-compact") + "/lake"
        graft.Tables.documents(s, dir)
          .withColumn("pb", pmod(col("doc_id"), lit(3L)))
          .repartition(col("lang"), col("pb"))
          .write.option("maxRecordsPerFile", 10)
          .partitionBy("lang", "pb").parquet(out)
        ManifestLake.adopt(s, out, partitionTypes = Map("pb" -> LongType))
        val report = ManifestLake.compact(s, out, targetBytes = Long.MaxValue,
          clusterBy = Seq("doc_id"))
        require(report.nonEmpty, "compaction gate must actually compact")
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Lake upsert under the oracle: build a hive lake from `documents`,
    // adopt it as a manifest table, merge a batch that rewrites every
    // 10th document (n_chars → -1) and adds a shifted-id copy of every
    // 100th, then hash the merged read-back against DuckDB replaying
    // the merge relationally. Pins update-wins collision semantics,
    // new-key appends, and untouched rows — through the manifest
    // upsert on an adopted hive lake.
    Q(
      "q76_upsert_roundtrip",
      (s, dir) => {
        val out = scratchDir("graft-gate-upsert") + "/lake"
        val docs = graft.Tables.documents(s, dir)
          .withColumn("pb", pmod(col("doc_id"), lit(3L)))
        docs.repartition(col("lang"), col("pb"))
          .write.partitionBy("lang", "pb").parquet(out)
        val updates = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
          .withColumn("n_chars", lit(-1L))
          .unionByName(
            docs.where(pmod(col("doc_id"), lit(100L)) === 0)
              .withColumn("doc_id", col("doc_id") + lit(1000000L))
              .withColumn("pb", pmod(col("doc_id"), lit(3L)))
              .withColumn("n_chars", lit(-1L)))
        ManifestLake.adopt(s, out, partitionTypes = Map("pb" -> LongType))
        ManifestLake.upsert(s, out, updates,
          partitionCols = Seq("lang", "pb"),
          keyCols = Seq("lang", "pb", "doc_id"))
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""WITH merged AS (
             |  SELECT lang,
             |    CASE WHEN doc_id % 10 = 0 THEN -1 ELSE n_chars END AS n_chars,
             |    doc_id
             |  FROM documents
             |  UNION ALL
             |  SELECT lang, -1 AS n_chars, doc_id + 1000000 AS doc_id
             |  FROM documents WHERE doc_id % 100 = 0)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  max(doc_id) AS max_id
             |FROM merged GROUP BY lang ORDER BY lang""".stripMargin)),

    // Manifest-committed lake under the oracle: the object-store commit
    // path end-to-end — fragmented v1 write, an appending v2 commit, a
    // compacting v3 commit, then vacuum to the current version — and
    // the read-back content must hash-match DuckDB replaying (documents
    // ∪ appended slice) directly. Pins that immutable-files + atomic
    // manifest pointer is invisible to readers across every lifecycle
    // step; ManifestLakeSpec separately pins versioning/crash/vacuum
    // mechanics.
    Q(
      "q88_manifest_roundtrip",
      (s, dir) => {
        val out = scratchDir("graft-gate-manifest") + "/table"
        val docs = graft.Tables.documents(s, dir)
        ManifestLake.write(s, docs.repartition(6), out, Seq("lang"))
        val extra = docs.where(pmod(col("doc_id"), lit(50L)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(3000000L))
        ManifestLake.write(s, extra, out, Seq("lang"), replace = false)
        val report = ManifestLake.compact(s, out, targetBytes = Long.MaxValue,
          clusterBy = Seq("doc_id"))
        require(report.nonEmpty, "manifest gate must actually compact")
        ManifestLake.vacuum(s, out, keepVersions = 1)
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (
             |  SELECT lang, n_chars, text, doc_id FROM documents
             |  UNION ALL
             |  SELECT lang, n_chars, text, doc_id + 3000000 AS doc_id
             |  FROM documents WHERE doc_id % 50 = 0)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // Manifest upsert under the oracle: q76's merge (every 10th doc
    // rewritten, every 100th added under a shifted id) replayed through
    // the OBJECT-STORE commit path — affected partitions rewritten into
    // a new version, untouched partitions carried by reference, the
    // merge visible only at manifest publish. Same relational oracle as
    // q76: the commit mechanics must be invisible to readers.
    Q(
      "q89_manifest_upsert",
      (s, dir) => {
        val out = scratchDir("graft-gate-mupsert") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .withColumn("pb", pmod(col("doc_id"), lit(3L)))
        ManifestLake.write(s, docs, out, Seq("lang", "pb"))
        val updates = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
          .withColumn("n_chars", lit(-1L))
          .unionByName(
            docs.where(pmod(col("doc_id"), lit(100L)) === 0)
              .withColumn("doc_id", col("doc_id") + lit(1000000L))
              .withColumn("pb", pmod(col("doc_id"), lit(3L)))
              .withColumn("n_chars", lit(-1L)))
        ManifestLake.upsert(s, out, updates,
          partitionCols = Seq("lang", "pb"),
          keyCols = Seq("lang", "pb", "doc_id"))
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""WITH merged AS (
             |  SELECT lang,
             |    CASE WHEN doc_id % 10 = 0 THEN -1 ELSE n_chars END AS n_chars,
             |    doc_id
             |  FROM documents
             |  UNION ALL
             |  SELECT lang, -1 AS n_chars, doc_id + 1000000 AS doc_id
             |  FROM documents WHERE doc_id % 100 = 0)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  max(doc_id) AS max_id
             |FROM merged GROUP BY lang ORDER BY lang""".stripMargin)),

    // ORC sink/source round-trip (Spark-native columnar alternative to
    // parquet — same partitionBy/predicate-pushdown machinery). DuckDB
    // has no ORC reader, so the oracle pins the read-back CONTENT from
    // the source table directly: the round trip must be invisible.
    Q(
      "q79_orc_roundtrip",
      (s, dir) => {
        val out = scratchDir("graft-gate-orc") + "/docs_orc"
        graft.Tables.documents(s, dir)
          .write.mode("overwrite").partitionBy("lang").orc(out)
        s.read.orc(out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // CSV sink/source round-trip with explicit read schema (the export
    // format downstream spreadsheet/legacy consumers ask for).
    // multiLine + quoting on both legs so embedded delimiters and
    // newlines survive; the content checksum proves byte fidelity.
    Q(
      "q80_csv_roundtrip",
      (s, dir) => {
        val out = scratchDir("graft-gate-csv") + "/docs_csv"
        graft.Tables.documents(s, dir)
          .write.mode("overwrite")
          .option("header", "true").option("multiLine", "true")
          .csv(out)
        s.read
          .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
          .option("header", "true").option("multiLine", "true")
          .csv(out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // The manifest lake's MULTI-COMMIT read path under the oracle: the
    // documents table lands as 8 sequential appends (one commit dir
    // each — the minute-cadence ingest shape), with one batch REPLAYED
    // under its (appId, batchId) txn to pin that exactly-once skips
    // publish entirely, and the read-back — ONE scan via the
    // manifest-fed FileIndex, partition values typed by the recorded
    // schema — must hash-match DuckDB aggregating the documents table
    // directly. Plan shape (single leaf at any commit count) is
    // asserted in ManifestLakeSpec; this gate certifies the CONTENT.
    Q(
      "q92_manifest_appends",
      (s, dir) => {
        val out = scratchDir("graft-gate-mappends") + "/table"
        val docs = graft.Tables.documents(s, dir)
        (0 until 8).foreach { i =>
          val batch = docs.where(pmod(col("doc_id"), lit(8L)) === i)
          ManifestLake.write(s, batch, out, Seq("lang"),
            replace = i == 0, txn = Some(("gate-ingest", i.toLong)),
            statsCols = Seq("doc_id", "n_chars"))
          if (i == 3) {
            // at-least-once re-delivery of batch 3: the ledger watermark
            // makes this a no-op — no version publishes, no rows double
            ManifestLake.write(s, batch, out, Seq("lang"),
              replace = false, txn = Some(("gate-ingest", 3L)))
          }
        }
        require(ManifestLake.currentVersion(s, out).contains(8L),
          "8 commits + 1 skipped replay must leave the table at v8")
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // The graft-manifest DATA SOURCE under the oracle: the same lake,
    // consumed without touching the Scala API. Written through the
    // DataFrameWriter (`format("graft-manifest")` — overwrite commit,
    // then an append commit with stats), read back two ways a
    // non-Scala user actually has: the HEAD through pure SQL
    // (CREATE TEMPORARY VIEW … USING graft-manifest + spark.sql), and
    // v1 through `option("versionAsOf", 1)` time travel. Content of
    // both legs must hash-match DuckDB recomputing them from the
    // documents table directly; plan shape (single pruned scan with
    // PushedFilters through the format() path) is pinned by
    // ManifestDataSourceSpec.
    Q(
      "q95_manifest_sql",
      (s, dir) => {
        val out = scratchDir("graft-gate-msql") + "/table"
        val docs = graft.Tables.documents(s, dir)
        docs.where(pmod(col("doc_id"), lit(2L)) === 0)
          .write.format("graft-manifest").partitionBy("lang")
          .option("statsCols", "doc_id").mode("overwrite").save(out)
        docs.where(pmod(col("doc_id"), lit(2L)) === 1)
          .write.format("graft-manifest")
          .option("statsCols", "doc_id").mode("append").save(out)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gate_msql_head
                 |USING `graft-manifest` OPTIONS (path '$out')""".stripMargin)
        val head = s.sql(
          """SELECT lang, count(*) AS n_docs,
            |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            |  sum(CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)) AS content_sum,
            |  max(doc_id) AS max_id
            |FROM gate_msql_head GROUP BY lang""".stripMargin)
        val v1 = s.read.format("graft-manifest").option("versionAsOf", "1").load(out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("n_docs_v1"),
            max(col("doc_id")).as("max_id_v1"))
        head.join(v1, Seq("lang")).orderBy(col("lang"))
      },
      Some("""WITH head AS (
             |  SELECT lang, count(*) AS n_docs,
             |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |    CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |    max(doc_id) AS max_id
             |  FROM documents GROUP BY lang),
             |v1 AS (
             |  SELECT lang, count(*) AS n_docs_v1, max(doc_id) AS max_id_v1
             |  FROM documents WHERE doc_id % 2 = 0 GROUP BY lang)
             |SELECT head.lang, n_docs, sum_chars, content_sum, max_id,
             |  n_docs_v1, max_id_v1
             |FROM head JOIN v1 ON head.lang = v1.lang
             |ORDER BY head.lang""".stripMargin)),

    // Z-order compaction under the oracle: a fragmented write, then a
    // compacting commit that lays rows along the (doc_id, n_chars)
    // z-curve — and the read-back must hash-match DuckDB aggregating
    // the documents table directly, because z-order is LAYOUT, not
    // data: the transient z-value never surfaces. The multi-dimension
    // pruning advantage itself is pinned by ZOrderSpec's
    // strictly-fewer-files comparison against lexicographic layout.
    Q(
      "q96_zorder_compact",
      (s, dir) => {
        val out = scratchDir("graft-gate-zorder") + "/table"
        val docs = graft.Tables.documents(s, dir)
        ManifestLake.write(s, docs.repartition(8), out, Seq("lang"),
          statsCols = Seq("doc_id", "n_chars"))
        val report = ManifestLake.compact(s, out, targetBytes = Long.MaxValue,
          zOrderBy = Seq("doc_id", "n_chars"))
        require(report.nonEmpty, "z-order gate must actually compact")
        ManifestLake.vacuum(s, out, keepVersions = 1)
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // The append-only CHANGE FEED under the oracle: the documents table
    // lands as 1 replace + 3 appends; a consumer checkpointed at v2
    // reads readChanges(2, 4) and must see EXACTLY the rows batches 3-4
    // added (doc_id % 4 in {2, 3}), hash-matched against DuckDB
    // filtering the source table directly. Pins that the feed is the
    // manifest set-difference over a verified append-only range — the
    // incremental-consumer contract; refusal semantics for
    // compact/upsert/replace/legacy ranges are spec'd in
    // ManifestLakeSpec.
    Q(
      "q97_change_feed",
      (s, dir) => {
        val out = scratchDir("graft-gate-cdf") + "/table"
        val docs = graft.Tables.documents(s, dir)
        (0 until 4).foreach { i =>
          ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === i),
            out, Seq("lang"), replace = i == 0)
        }
        ManifestLake.readChanges(s, out, fromV = 2L, toV = 4L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM documents WHERE doc_id % 4 IN (2, 3)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // The ROW-LEVEL change feed under the oracle: append + upsert +
    // append, then readChangeFeed over the whole range. The upsert
    // rewrites half its keys (text gains a '!', n_chars grows by one)
    // and inserts the other half, so the feed must carry v2's and v4's
    // appends as inserts AND the upsert's exact pre-images (original
    // rows), post-images (modified rows), and inserts — hash-matched
    // per (change_type, commit_version, lang) against DuckDB replaying
    // the same merge from the documents table directly. Refusal /
    // skipUnresolved / vacuum-horizon semantics are spec'd in
    // ManifestLakeSpec.
    Q(
      "q98_row_change_feed",
      (s, dir) => {
        val out = scratchDir("graft-gate-rowcdf") + "/table"
        val docs = graft.Tables.documents(s, dir)
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === 0),
          out, Seq("lang"))                                                  // v1
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === 1),
          out, Seq("lang"), replace = false)                                 // v2
        val updates = docs.where(pmod(col("doc_id"), lit(8L)) === 2)         // new keys
          .unionByName(docs.where(pmod(col("doc_id"), lit(8L)) === 4)        // rewrites of v1 keys
            .withColumn("text", concat(col("text"), lit("!")))
            .withColumn("n_chars", col("n_chars") + lit(1L)))
        ManifestLake.upsert(s, out, updates, Seq("lang"), Seq("lang", "doc_id")) // v3
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === 3),
          out, Seq("lang"), replace = false)                                 // v4
        ManifestLake.readChangeFeed(s, out, fromV = 1L, toV = 4L)
          .groupBy(col("_change_type").as("change_type"),
            col("_commit_version").as("commit_version"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("commit_version"), col("change_type"), col("lang"))
      },
      Some("""WITH feed AS (
             |  SELECT 'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version, *
             |  FROM documents WHERE doc_id % 4 = 1
             |  UNION ALL
             |  SELECT 'insert', 3, * FROM documents WHERE doc_id % 8 = 2
             |  UNION ALL
             |  SELECT 'update_preimage', 3, * FROM documents WHERE doc_id % 8 = 4
             |  UNION ALL
             |  SELECT 'update_postimage', 3, doc_id, text || '!', lang, source,
             |    n_chars + 1
             |  FROM documents WHERE doc_id % 8 = 4
             |  UNION ALL
             |  SELECT 'insert', 4, * FROM documents WHERE doc_id % 4 = 3)
             |SELECT change_type, commit_version, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM feed GROUP BY change_type, commit_version, lang
             |ORDER BY commit_version, change_type, lang""".stripMargin)),

    // OPTIMISTIC CONCURRENT APPENDS under the oracle: after a v1 base
    // commit, two appenders race from the same observed head. Each
    // stages under its own unique dir; the publish loser re-reads the
    // new head and re-publishes its staged files at head+1 — so BOTH
    // batches land (in either order), the table finishes at v3, and the
    // read-back must hash-match DuckDB aggregating the full documents
    // table (base ∪ both appends = everything). Race mechanics
    // (distinct versions, ledger survival, widening conflicts) are
    // spec'd in ManifestLakeSpec; this gate certifies the CONTENT is
    // exactly the union whichever interleaving occurred.
    Q(
      "q99_concurrent_appends",
      (s, dir) => {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        val out = scratchDir("graft-gate-cappend") + "/table"
        val docs = graft.Tables.documents(s, dir)
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(3L)) === 0),
          out, Seq("lang"))
        val racers = (1 to 2).map { i =>
          Future {
            ManifestLake.write(s,
              docs.where(pmod(col("doc_id"), lit(3L)) === i),
              out, Seq("lang"), replace = false)
          }
        }
        val landed = Await.result(Future.sequence(racers), 10.minutes)
        require(landed.toSet == Set(2L, 3L) &&
          ManifestLake.currentVersion(s, out).contains(3L),
          s"both concurrent appends must land at distinct versions: $landed")
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ROW-LEVEL DELETE under the oracle: two appends, then a targeted
    // delete whose predicate evaluates NULL on every 10th row (`tag` is
    // NULLed there) — SQL DELETE semantics say those rows SURVIVE. The
    // result unions the change feed (v2's inserts + v3's exact deleted
    // rows) with the final live table, hash-matched against DuckDB
    // replaying the same delete with NOT COALESCE(pred, FALSE)
    // survivor logic. Pins: match-bearing-file-only rewrite resolves
    // (the r11 URI bug class), NULL-predicate keep semantics, delete
    // rows stamped exactly, survivors exact. File-carry/stat-recollect
    // mechanics are spec'd in ManifestLakeSpec.
    Q(
      "q100_row_delete",
      (s, dir) => {
        val out = scratchDir("graft-gate-rowdel") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .withColumn("tag",
            when(pmod(col("doc_id"), lit(10L)) === 0, lit(null).cast("string"))
              .otherwise(col("lang")))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), statsCols = Seq("doc_id"))                       // v1
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 1),
          out, Seq("lang"), replace = false, statsCols = Seq("doc_id"))      // v2
        val predicate = col("tag") === "en" && pmod(col("doc_id"), lit(3L)) === 0
        val v = ManifestLake.delete(s, out, predicate)                       // v3
        require(v == 3L, s"delete must publish v3, got v$v")
        val cols = Seq(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        val feed = ManifestLake.readChangeFeed(s, out, fromV = 1L, toV = 3L)
          .select(col("_change_type").as("change_type") +:
            col("_commit_version").cast("long").as("commit_version") +: cols: _*)
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("change_type") +:
            lit(3L).as("commit_version") +: cols: _*)
        feed.unionByName(live)
          .groupBy(col("change_type"), col("commit_version"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("commit_version"), col("change_type"), col("lang"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text, lang, n_chars,
             |    CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS tag
             |  FROM documents),
             |feed AS (
             |  SELECT 'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version,
             |    lang, doc_id, text, n_chars
             |  FROM base WHERE doc_id % 2 = 1
             |  UNION ALL
             |  SELECT 'delete', 3, lang, doc_id, text, n_chars
             |  FROM base WHERE tag = 'en' AND doc_id % 3 = 0
             |  UNION ALL
             |  SELECT 'live', 3, lang, doc_id, text, n_chars
             |  FROM base WHERE NOT COALESCE(tag = 'en' AND doc_id % 3 = 0, FALSE))
             |SELECT change_type, commit_version, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM feed GROUP BY change_type, commit_version, lang
             |ORDER BY commit_version, change_type, lang""".stripMargin)),

    // CATEGORICAL FILE SKIPPING under the oracle: the write clusters by
    // `source` (20 distinct values — under the value-set cap) so each
    // staged file records a complete membership set, then the read
    // combines the three recognized set shapes — IN, equality-via-OR,
    // and LIKE-prefix — and must still hash-match DuckDB filtering the
    // source table directly. Stats are a cost optimization, never a
    // filter: this gate is what proves it (the strictly-fewer-files
    // skip effect itself is pinned by the ManifestLakeSpec plan check).
    Q(
      "q101_categorical_skip",
      (s, dir) => {
        val out = scratchDir("graft-gate-catskip") + "/table"
        val docs = graft.Tables.documents(s, dir)
        ManifestLake.write(s, docs.repartitionByRange(8, col("source")), out,
          Seq("lang"), statsCols = Seq("source", "doc_id"))
        ManifestLake.read(s, out)
          .where(col("source").isin("src3", "src7") || col("source").startsWith("src1"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM documents
             |WHERE source IN ('src3', 'src7') OR source LIKE 'src1%'
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // CHECK CONSTRAINTS under the oracle: a declared `n_chars >= 0`
    // gates the lake; a violating append and a violating upsert BOTH
    // fail pre-publish with the table untouched (required in-line), a
    // passing append and a passing upsert land, and the final table
    // hash-matches DuckDB replaying only the commits that were ALLOWED
    // through. Pins the contract end-to-end: enforcement rejects
    // exactly the violating batches and nothing else, with zero
    // residue from the rejected ones.
    Q(
      "q105_check_constraint",
      (s, dir) => {
        val out = scratchDir("graft-gate-check") + "/table"
        val docs = graft.Tables.documents(s, dir)
        val charsT = docs.schema("n_chars").dataType
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), statsCols = Seq("doc_id"))                         // v1
        require(ManifestLake.addConstraint(s, out, "chars_nonneg", "n_chars >= 0") == 2L)
        // violating append: every row negative — must fail pre-publish
        val rejected =
          try {
            ManifestLake.write(s,
              docs.where(pmod(col("doc_id"), lit(2L)) === 1)
                .withColumn("n_chars", lit(-1).cast(charsT)),
              out, Seq("lang"), replace = false)
            false
          } catch { case _: IllegalStateException => true }
        require(rejected, "violating append must fail pre-publish")
        require(ManifestLake.currentVersion(s, out).contains(2L),
          "rejected append must leave the table untouched")
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 1),
          out, Seq("lang"), replace = false, statsCols = Seq("doc_id"))        // v3
        // violating upsert: also rejected pre-publish
        val rejectedU =
          try {
            ManifestLake.upsert(s, out,
              docs.where(col("doc_id") < 3)
                .withColumn("n_chars", lit(-5).cast(charsT)),
              Seq("lang"), Seq("lang", "doc_id"))
            false
          } catch { case _: IllegalStateException => true }
        require(rejectedU, "violating upsert must fail pre-publish")
        require(ManifestLake.currentVersion(s, out).contains(3L))
        // passing upsert lands under the constraint
        ManifestLake.upsert(s, out,
          docs.where(col("doc_id") < 3).withColumn("text", upper(col("text"))),
          Seq("lang"), Seq("lang", "doc_id"))                                  // v4
        require(ManifestLake.constraintsOf(s, out)
          == Map("chars_nonneg" -> "n_chars >= 0"))
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""WITH fin AS (
             |  SELECT lang, doc_id, n_chars,
             |    CASE WHEN doc_id < 3 THEN upper(text) ELSE text END AS text
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // COLUMN MAPPING under the oracle: write half the corpus, RENAME
    // text→content (metadata-only, zero rewrite — required in-line
    // against the manifest's live set), append the other half under
    // the new name, upsert through it, then read back — hash-matched
    // against DuckDB serving the same rows under the alias. Pins the
    // whole indirection end-to-end: physical files never move, logical
    // renames serve exact data across pre- and post-rename commits.
    Q(
      "q106_column_mapping",
      (s, dir) => {
        val out = scratchDir("graft-gate-cmap") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), statsCols = Seq("doc_id"))                         // v1
        val (fs, root) = ManifestLake.fsFor(s, out)
        val before = ManifestLake.readManifest(fs, root, 1L).files.toSet
        require(ManifestLake.renameColumn(s, out, "text", "content") == 2L)
        require(ManifestLake.readManifest(fs, root, 2L).files.toSet == before,
          "a rename must move zero data files")
        ManifestLake.write(s,
          docs.where(pmod(col("doc_id"), lit(2L)) === 1)
            .withColumnRenamed("text", "content"),
          out, Seq("lang"), replace = false, statsCols = Seq("doc_id"))        // v3
        ManifestLake.upsert(s, out,
          docs.where(col("doc_id") < 2).withColumnRenamed("text", "content")
            .withColumn("content", upper(col("content"))),
          Seq("lang"), Seq("lang", "doc_id"))                                  // v4
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("content")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""WITH fin AS (
             |  SELECT lang, doc_id, n_chars,
             |    CASE WHEN doc_id < 2 THEN upper(text) ELSE text END AS content
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(content), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // TYPE WIDENING under the oracle: half the corpus lands with an
    // INT measure, the recorded type widens to BIGINT metadata-only
    // (zero data movement — required in-line), the other half appends
    // at the wide type with values past INT range, and the read-back —
    // old narrow files and new wide files through ONE scan — must
    // hash-match DuckDB computing the same widened sums.
    Q(
      "q107_type_widening",
      (s, dir) => {
        val out = scratchDir("graft-gate-widen") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"),
            col("n_chars").cast("int").as("measure"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), statsCols = Seq("measure"))                        // v1
        val (fs, root) = ManifestLake.fsFor(s, out)
        val before = ManifestLake.readManifest(fs, root, 1L).files.toSet
        require(ManifestLake.widenColumnType(s, out, "measure",
          org.apache.spark.sql.types.LongType) == 2L)
        require(ManifestLake.readManifest(fs, root, 2L).files.toSet == before,
          "type widening must move zero data files")
        ManifestLake.write(s,
          docs.where(pmod(col("doc_id"), lit(2L)) === 1)
            .withColumn("measure", col("measure").cast("long") + lit(5000000000L)),
          out, Seq("lang"), replace = false, statsCols = Seq("measure"))       // v3
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("measure")).cast("long").as("sum_measure"),
            max(col("measure")).cast("long").as("max_measure"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"))
          .orderBy(col("lang"))
      },
      Some("""WITH fin AS (
             |  SELECT lang, text,
             |    CASE WHEN doc_id % 2 = 1
             |      THEN CAST(n_chars AS BIGINT) + 5000000000
             |      ELSE CAST(n_chars AS BIGINT) END AS measure
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(measure) AS BIGINT) AS sum_measure,
             |  CAST(max(measure) AS BIGINT) AS max_measure,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // CONDITIONAL MERGE under the oracle: the table is the even-doc_id
    // half; the source is every doc_id % 3 == 0 row reshaped — matched
    // rows with doc_id % 5 == 0 DELETE, other matched rows UPDATE
    // (text upper-cased), unmatched rows INSERT only when n_chars > 100.
    // The final table AND the stamped change feed both hash-match
    // DuckDB replaying the same clause matrix with a FULL OUTER JOIN +
    // CASE — clause precedence, condition gating, and row-exact CDC in
    // one gate.
    Q(
      "q108_merge",
      (s, dir) => {
        val out = scratchDir("graft-gate-merge") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), statsCols = Seq("doc_id"))                         // v1
        val source = docs.where(pmod(col("doc_id"), lit(3L)) === 0)
          .withColumn("text", upper(col("text")))
        val st = ManifestLake.merge(s, out, source,
          Seq("lang"), Seq("lang", "doc_id"),
          updateWhen = Some(lit(true)),
          deleteWhen = Some(pmod(col("s.doc_id"), lit(5L)) === 0),
          insertWhen = Some(col("s.n_chars") > 100))                           // v2
        require(st.version == 2L, s"merge must publish v2, got $st")
        val cols = Seq(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        val feed = ManifestLake.readChangeFeed(s, out, fromV = 1L, toV = 2L)
          .select(col("_change_type").as("change_type") +: cols: _*)
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("change_type") +: cols: _*)
        feed.unionByName(live)
          .groupBy(col("change_type"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("change_type"), col("lang"))
      },
      Some("""WITH tgt AS (SELECT lang, doc_id, text, n_chars FROM documents
             |  WHERE doc_id % 2 = 0),
             |src AS (SELECT lang, doc_id, upper(text) AS text, n_chars
             |  FROM documents WHERE doc_id % 3 = 0),
             |cls AS (
             |  SELECT coalesce(t.lang, s.lang) AS lang,
             |    coalesce(t.doc_id, s.doc_id) AS doc_id,
             |    t.text AS t_text, s.text AS s_text,
             |    coalesce(t.n_chars, s.n_chars) AS n_chars,
             |    CASE
             |      WHEN t.doc_id IS NOT NULL AND s.doc_id IS NOT NULL THEN
             |        CASE WHEN s.doc_id % 5 = 0 THEN 'D' ELSE 'U' END
             |      WHEN s.doc_id IS NOT NULL THEN
             |        CASE WHEN s.n_chars > 100 THEN 'I' ELSE 'X' END
             |      ELSE 'K' END AS action
             |  FROM tgt t FULL OUTER JOIN src s
             |    ON t.lang = s.lang AND t.doc_id = s.doc_id),
             |feed AS (
             |  SELECT 'update_preimage' AS change_type, lang, doc_id, t_text AS text, n_chars
             |  FROM cls WHERE action = 'U'
             |  UNION ALL
             |  SELECT 'update_postimage', lang, doc_id, s_text, n_chars FROM cls WHERE action = 'U'
             |  UNION ALL
             |  SELECT 'delete', lang, doc_id, t_text, n_chars FROM cls WHERE action = 'D'
             |  UNION ALL
             |  SELECT 'insert', lang, doc_id, s_text, n_chars FROM cls WHERE action = 'I'
             |  UNION ALL
             |  SELECT 'live', lang, doc_id,
             |    CASE WHEN action IN ('U', 'I') THEN s_text ELSE t_text END, n_chars
             |  FROM cls WHERE action IN ('K', 'U', 'I'))
             |SELECT change_type, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM feed GROUP BY change_type, lang
             |ORDER BY change_type, lang""".stripMargin)),

    // DELETION VECTORS under the oracle: the same delete q100 replays —
    // including its NULL-keep survivors — executed as a MASK instead of
    // a rewrite: the live data-file set is required in-line to be
    // byte-identical across the delete, and the final table, the
    // survivors, AND the change feed still hash-match DuckDB. The mask
    // IS the delete, with zero write amplification.
    Q(
      "q109_deletion_vectors",
      (s, dir) => {
        val out = scratchDir("graft-gate-dv") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .withColumn("tag",
            when(pmod(col("doc_id"), lit(10L)) === 0, lit(null).cast("string"))
              .otherwise(col("lang")))
        ManifestLake.write(s, docs, out, Seq("lang"), statsCols = Seq("doc_id")) // v1
        val (fs, root) = ManifestLake.fsFor(s, out)
        val before = ManifestLake.readManifest(fs, root, 1L).files
          .map(f => f.path -> f.bytes).toSet
        val predicate = col("tag") === "en" && pmod(col("doc_id"), lit(3L)) === 0
        val v = ManifestLake.delete(s, out, predicate, deletionVectors = true)  // v2
        require(v == 2L, s"DV delete must publish v2, got v$v")
        require(ManifestLake.readManifest(fs, root, 2L).files
          .map(f => f.path -> f.bytes).toSet == before,
          "a deletion-vector delete must not move, add, or remove any data file")
        val cols = Seq(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        val feed = ManifestLake.readChangeFeed(s, out, fromV = 1L, toV = 2L)
          .where(col("_change_type") === "delete")
          .select(lit("deleted").as("state") +: cols: _*)
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("state") +: cols: _*)
        feed.unionByName(live)
          .groupBy(col("state"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("state"), col("lang"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text, lang, n_chars,
             |    CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS tag
             |  FROM documents),
             |rows_out AS (
             |  SELECT 'deleted' AS state, lang, doc_id, text, n_chars
             |  FROM base WHERE tag = 'en' AND doc_id % 3 = 0
             |  UNION ALL
             |  SELECT 'live', lang, doc_id, text, n_chars
             |  FROM base WHERE NOT COALESCE(tag = 'en' AND doc_id % 3 = 0, FALSE))
             |SELECT state, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM rows_out GROUP BY state, lang ORDER BY state, lang""".stripMargin)),

    // BLOOM FILE SKIPPING under the oracle: doc_ids land INTERLEAVED
    // across files (every file's [min,max] spans the domain; 30k
    // distinct ids overflow the value-set cap) so point lookups prune
    // ONLY through the per-file blooms — and the results, present keys
    // and absent, must still hash-match DuckDB filtering the raw table.
    // Blooms are a cost optimization, never a filter: this gate is the
    // proof (the strictly-fewer-files effect is pinned by BloomSkipSpec).
    Q(
      "q113_bloom_skip",
      (s, dir) => {
        val out = scratchDir("graft-gate-bloom") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.repartition(8), out, Seq("lang"),
          bloomCols = Seq("doc_id"))
        ManifestLake.read(s, out)
          .where(col("doc_id").isin(3L, 77L, 142L, 399L, 999999L) ||
            col("doc_id") === 250L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM documents
             |WHERE doc_id IN (3, 77, 142, 399, 999999, 250)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // GENERATED COLUMNS under the oracle: `len_bucket` is declared
    // GENERATED ALWAYS AS (n_chars DIV 100) on the empty table; both
    // halves of the corpus append WITHOUT the column (computed during
    // the write), a batch supplying a WRONG value is required in-line
    // to fail pre-publish, and the final table hash-matches DuckDB
    // computing the same expression.
    Q(
      "q114_generated_column",
      (s, dir) => {
        import s.implicits._
        val out = scratchDir("graft-gate-gen") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s,
          Seq.empty[(String, Long, String, Long)].toDF("lang", "doc_id", "text", "n_chars")
            .select(col("lang"), col("doc_id"), col("text"),
              col("n_chars").cast(docs.schema("n_chars").dataType)),
          out, Seq("lang"))                                                    // v1 empty
        require(ManifestLake.addGeneratedColumn(s, out, "len_bucket",
          org.apache.spark.sql.types.LongType, "n_chars DIV 100") == 2L)
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), replace = false)                                   // v3
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 1),
          out, Seq("lang"), replace = false)                                   // v4
        val rejected =
          try {
            ManifestLake.write(s,
              docs.limit(3).withColumn("len_bucket", lit(-999L)),
              out, Seq("lang"), replace = false)
            false
          } catch { case _: IllegalStateException => true }
        require(rejected, "a wrong supplied generated value must fail pre-publish")
        require(ManifestLake.currentVersion(s, out).contains(4L))
        ManifestLake.read(s, out)
          .groupBy(col("lang"), col("len_bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"))
          .orderBy(col("lang"), col("len_bucket"))
      },
      Some("""SELECT lang, n_chars // 100 AS len_bucket, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum
             |FROM documents
             |GROUP BY lang, len_bucket ORDER BY lang, len_bucket""".stripMargin)),

    // ROW-LEVEL UPDATE under the oracle: SET expressions computed from
    // PRE-update values (text rewritten from the old text, n_chars from
    // the old n_chars) over a condition that evaluates NULL on every
    // 10th row (those rows must stay untouched — SQL semantics). Final
    // table AND the stamped pre/post change images hash-match DuckDB's
    // CASE replay.
    Q(
      "q110_row_update",
      (s, dir) => {
        val out = scratchDir("graft-gate-upd") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .withColumn("tag",
            when(pmod(col("doc_id"), lit(10L)) === 0, lit(null).cast("string"))
              .otherwise(col("lang")))
        ManifestLake.write(s, docs, out, Seq("lang"), statsCols = Seq("doc_id")) // v1
        val v = ManifestLake.update(s, out,
          col("tag") === "en" && pmod(col("doc_id"), lit(4L)) === 0,
          Map("text" -> upper(col("text")),
            "n_chars" -> (col("n_chars") + lit(1000000L))))                    // v2
        require(v == 2L, s"update must publish v2, got v$v")
        val cols = Seq(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        val feed = ManifestLake.readChangeFeed(s, out, fromV = 1L, toV = 2L)
          .select(col("_change_type").as("state") +: cols: _*)
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("state") +: cols: _*)
        feed.unionByName(live)
          .groupBy(col("state"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("state"), col("lang"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text, lang, n_chars,
             |    COALESCE(CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END = 'en'
             |      AND doc_id % 4 = 0, FALSE) AS hit
             |  FROM documents),
             |rows_out AS (
             |  SELECT 'update_preimage' AS state, lang, doc_id, text, n_chars
             |  FROM base WHERE hit
             |  UNION ALL
             |  SELECT 'update_postimage', lang, doc_id, upper(text),
             |    n_chars + 1000000 FROM base WHERE hit
             |  UNION ALL
             |  SELECT 'live', lang, doc_id,
             |    CASE WHEN hit THEN upper(text) ELSE text END,
             |    CASE WHEN hit THEN n_chars + 1000000 ELSE n_chars END
             |  FROM base)
             |SELECT state, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM rows_out GROUP BY state, lang ORDER BY state, lang""".stripMargin)),

    // SEGMENTED MANIFESTS under the oracle: a snapshot commit, three
    // delta-commit appends, and a header-only constraint delta — the
    // gate REQUIRES in-line that every post-snapshot commit really is a
    // delta (chain > 0: its manifest recorded only its own adds), then
    // hash-matches the resolved live table AND a time-travel read that
    // resolves mid-chain. Commits write O(changed) bytes; reads stay
    // value-exact across the chain.
    Q(
      "q115_delta_manifest",
      (s, dir) => {
        val out = scratchDir("graft-gate-delta") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === 0),
          out, Seq("lang"), statsCols = Seq("doc_id"))                         // v1 snapshot
        (1L to 2L).foreach { k =>
          ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === k),
            out, Seq("lang"), replace = false, statsCols = Seq("doc_id"))      // v2, v3
        }
        ManifestLake.addConstraint(s, out, "chars_ok", "n_chars >= 0")         // v4 header-only
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === 3),
          out, Seq("lang"), replace = false, statsCols = Seq("doc_id"))        // v5
        val (fs, root) = ManifestLake.fsFor(s, out)
        require(ManifestLake.readManifest(fs, root, 1L).chain == 0,
          "the first commit must be a full snapshot")
        require((2L to 5L).forall(v =>
          ManifestLake.readManifest(fs, root, v).chain > 0),
          "every commit after the snapshot must be a delta (O(changed) bytes)")
        val cols = Seq(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("state") +: cols: _*)
        val asOf3 = ManifestLake.readVersion(s, out, 3L)
          .select(lit("v3").as("state") +: cols: _*)
        live.unionByName(asOf3)
          .groupBy(col("state"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("state"), col("lang"))
      },
      Some("""WITH rows_out AS (
             |  SELECT 'live' AS state, lang, doc_id, text, n_chars FROM documents
             |  UNION ALL
             |  SELECT 'v3', lang, doc_id, text, n_chars FROM documents
             |  WHERE doc_id % 4 IN (0, 1, 2))
             |SELECT state, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM rows_out GROUP BY state, lang ORDER BY state, lang""".stripMargin)),

    // CDC-APPLY MERGE under the oracle: the source carries an `op`
    // routing column the TABLE never stores (the superset-source
    // contract) — matched rows tombstone on op='d' and update on
    // op='u'; unmatched tombstones are no-ops; unmatched upserts
    // insert. The gate requires in-line that the routing column never
    // lands, and the final table AND change feed hash-match DuckDB
    // replaying the clause matrix.
    Q(
      "q116_merge_cdc_apply",
      (s, dir) => {
        val out = scratchDir("graft-gate-cdc") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), statsCols = Seq("doc_id"))                         // v1
        val source = docs.where(pmod(col("doc_id"), lit(3L)) === 0)
          .withColumn("text", upper(col("text")))
          .withColumn("op",
            when(pmod(col("doc_id"), lit(5L)) === 0, lit("d")).otherwise(lit("u")))
        val st = ManifestLake.merge(s, out, source,
          Seq("lang"), Seq("lang", "doc_id"),
          updateWhen = Some(col("s.op") === "u"),
          deleteWhen = Some(col("s.op") === "d"),
          insertWhen = Some(col("s.op") =!= "d"))                              // v2
        require(st.version == 2L, s"merge must publish v2, got $st")
        require(!ManifestLake.read(s, out).columns.contains("op"),
          "the source-only routing column must never land in the table")
        val cols = Seq(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        val feed = ManifestLake.readChangeFeed(s, out, fromV = 1L, toV = 2L)
          .select(col("_change_type").as("state") +: cols: _*)
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("state") +: cols: _*)
        feed.unionByName(live)
          .groupBy(col("state"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("state"), col("lang"))
      },
      Some("""WITH tgt AS (SELECT lang, doc_id, text, n_chars FROM documents
             |  WHERE doc_id % 2 = 0),
             |src AS (SELECT lang, doc_id, upper(text) AS text, n_chars,
             |    CASE WHEN doc_id % 5 = 0 THEN 'd' ELSE 'u' END AS op
             |  FROM documents WHERE doc_id % 3 = 0),
             |cls AS (
             |  SELECT coalesce(t.lang, s.lang) AS lang,
             |    coalesce(t.doc_id, s.doc_id) AS doc_id,
             |    t.text AS t_text, s.text AS s_text,
             |    coalesce(t.n_chars, s.n_chars) AS n_chars,
             |    CASE
             |      WHEN t.doc_id IS NOT NULL AND s.doc_id IS NOT NULL THEN
             |        CASE WHEN s.op = 'd' THEN 'D' ELSE 'U' END
             |      WHEN s.doc_id IS NOT NULL THEN
             |        CASE WHEN s.op <> 'd' THEN 'I' ELSE 'X' END
             |      ELSE 'K' END AS action
             |  FROM tgt t FULL OUTER JOIN src s
             |    ON t.lang = s.lang AND t.doc_id = s.doc_id),
             |feed AS (
             |  SELECT 'update_preimage' AS state, lang, doc_id, t_text AS text, n_chars
             |  FROM cls WHERE action = 'U'
             |  UNION ALL
             |  SELECT 'update_postimage', lang, doc_id, s_text, n_chars FROM cls WHERE action = 'U'
             |  UNION ALL
             |  SELECT 'delete', lang, doc_id, t_text, n_chars FROM cls WHERE action = 'D'
             |  UNION ALL
             |  SELECT 'insert', lang, doc_id, s_text, n_chars FROM cls WHERE action = 'I'
             |  UNION ALL
             |  SELECT 'live', lang, doc_id,
             |    CASE WHEN action IN ('U', 'I') THEN s_text ELSE t_text END, n_chars
             |  FROM cls WHERE action IN ('K', 'U', 'I'))
             |SELECT state, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM feed GROUP BY state, lang ORDER BY state, lang""".stripMargin)),

    // SQL-TEXT MERGE under the oracle: q108's exact clause matrix —
    // conditional DELETE, UPDATE SET *, conditional INSERT * — executed
    // as a `spark.sql("MERGE INTO …")` statement against the
    // `graft-manifest`.`path` target (the injected-parser surface a
    // SQL-only user drives), hash-matched by the SAME DuckDB FULL OUTER
    // JOIN + CASE replay. The live table AND the stamped change feed
    // both gate, so the SQL path is held to everything the Scala path
    // is.
    Q(
      "q117_sql_merge",
      (s, dir) => {
        val out = scratchDir("graft-gate-sqlmerge") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), statsCols = Seq("doc_id"))                         // v1
        docs.where(pmod(col("doc_id"), lit(3L)) === 0)
          .withColumn("text", upper(col("text")))
          .createOrReplaceTempView("q117_src")
        val st = s.sql(
          s"""MERGE INTO `graft-manifest`.`$out` t
             |USING q117_src s
             |ON t.lang = s.lang AND t.doc_id = s.doc_id
             |WHEN MATCHED AND s.doc_id % 5 = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED AND s.n_chars > 100 THEN INSERT *
             |""".stripMargin).collect().head
        require(st.getLong(0) == 2L,
          s"SQL merge must publish v2, got ${st.getLong(0)}")
        val cols = Seq(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        val feed = ManifestLake.readChangeFeed(s, out, fromV = 1L, toV = 2L)
          .select(col("_change_type").as("change_type") +: cols: _*)
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("change_type") +: cols: _*)
        feed.unionByName(live)
          .groupBy(col("change_type"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("change_type"), col("lang"))
      },
      Some("""WITH tgt AS (SELECT lang, doc_id, text, n_chars FROM documents
             |  WHERE doc_id % 2 = 0),
             |src AS (SELECT lang, doc_id, upper(text) AS text, n_chars
             |  FROM documents WHERE doc_id % 3 = 0),
             |cls AS (
             |  SELECT coalesce(t.lang, s.lang) AS lang,
             |    coalesce(t.doc_id, s.doc_id) AS doc_id,
             |    t.text AS t_text, s.text AS s_text,
             |    coalesce(t.n_chars, s.n_chars) AS n_chars,
             |    CASE
             |      WHEN t.doc_id IS NOT NULL AND s.doc_id IS NOT NULL THEN
             |        CASE WHEN s.doc_id % 5 = 0 THEN 'D' ELSE 'U' END
             |      WHEN s.doc_id IS NOT NULL THEN
             |        CASE WHEN s.n_chars > 100 THEN 'I' ELSE 'X' END
             |      ELSE 'K' END AS action
             |  FROM tgt t FULL OUTER JOIN src s
             |    ON t.lang = s.lang AND t.doc_id = s.doc_id),
             |feed AS (
             |  SELECT 'update_preimage' AS change_type, lang, doc_id, t_text AS text, n_chars
             |  FROM cls WHERE action = 'U'
             |  UNION ALL
             |  SELECT 'update_postimage', lang, doc_id, s_text, n_chars FROM cls WHERE action = 'U'
             |  UNION ALL
             |  SELECT 'delete', lang, doc_id, t_text, n_chars FROM cls WHERE action = 'D'
             |  UNION ALL
             |  SELECT 'insert', lang, doc_id, s_text, n_chars FROM cls WHERE action = 'I'
             |  UNION ALL
             |  SELECT 'live', lang, doc_id,
             |    CASE WHEN action IN ('U', 'I') THEN s_text ELSE t_text END, n_chars
             |  FROM cls WHERE action IN ('K', 'U', 'I'))
             |SELECT change_type, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM feed GROUP BY change_type, lang
             |ORDER BY change_type, lang""".stripMargin)),

    // SQL-TEXT UPDATE + DELETE under the oracle: an expression SET over
    // a predicate, then a DELETE whose predicate reads the UPDATED
    // values — two sequential spark.sql statements against the manifest
    // target, replayed relationally by DuckDB (CASE for the update, NOT
    // provably-true for the delete's NULL-keep semantics).
    Q(
      "q118_sql_update_delete",
      (s, dir) => {
        val out = scratchDir("graft-gate-sqlupd") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs, out, Seq("lang"), statsCols = Seq("doc_id")) // v1
        val v2 = s.sql(s"UPDATE `graft-manifest`.`$out` " +
          "SET n_chars = n_chars + 100000, text = upper(text) " +
          "WHERE doc_id % 7 = 0").collect().head.getLong(0)
        require(v2 == 2L, s"SQL update must publish v2, got $v2")
        val v3 = s.sql(s"DELETE FROM `graft-manifest`.`$out` " +
          "WHERE n_chars < 200 OR doc_id % 11 = 0").collect().head.getLong(0)
        require(v3 == 3L, s"SQL delete must publish v3, got $v3")
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""WITH upd AS (
             |  SELECT lang, doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text,
             |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 100000 ELSE n_chars END AS n_chars
             |  FROM documents),
             |fin AS (
             |  SELECT * FROM upd
             |  WHERE NOT coalesce(n_chars < 200 OR doc_id % 11 = 0, FALSE))
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // FULL-CLAUSE SQL MERGE under the oracle: clause ORDER (an UPDATE
    // listed before a DELETE wins ties — the engine's old fixed
    // delete-first precedence would flip it), PARTIAL SET (unassigned
    // columns keep target values), an explicit INSERT column list
    // (unlisted column → NULL), a superset-source routing column that
    // never lands, and NOT MATCHED BY SOURCE UPDATE/DELETE — all in one
    // statement, replayed by DuckDB with an ordered CASE.
    Q(
      "q119_sql_merge_clauses",
      (s, dir) => {
        val out = scratchDir("graft-gate-sqlclauses") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), statsCols = Seq("doc_id"))                         // v1
        docs.where(pmod(col("doc_id"), lit(3L)) === 0)
          .withColumn("op",
            when(pmod(col("doc_id"), lit(9L)) === 0, lit("touch"))
              .otherwise(lit("bump")))
          .createOrReplaceTempView("q119_src")
        val st = s.sql(
          s"""MERGE INTO `graft-manifest`.`$out` t
             |USING q119_src s
             |ON t.lang = s.lang AND t.doc_id = s.doc_id
             |WHEN MATCHED AND s.op = 'bump' THEN UPDATE SET n_chars = t.n_chars + s.n_chars
             |WHEN MATCHED THEN DELETE
             |WHEN NOT MATCHED AND s.op = 'bump' THEN INSERT (lang, doc_id, n_chars)
             |  VALUES (s.lang, s.doc_id, s.n_chars)
             |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 10 = 8 THEN DELETE
             |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET n_chars = t.n_chars - 1
             |""".stripMargin).collect().head
        require(st.getLong(0) == 2L,
          s"SQL clause merge must publish v2, got ${st.getLong(0)}")
        require(!ManifestLake.read(s, out).columns.contains("op"),
          "the source-only routing column must never land in the table")
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            count(when(col("text").isNull, lit(1))).as("null_texts"),
            sum(conv(substring(md5(coalesce(col("text"), lit("~"))), 1, 8), 16, 10)
              .cast("long")).as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""WITH tgt AS (SELECT lang, doc_id, text, n_chars FROM documents
             |  WHERE doc_id % 2 = 0),
             |src AS (SELECT lang, doc_id, text, n_chars,
             |    CASE WHEN doc_id % 9 = 0 THEN 'touch' ELSE 'bump' END AS op
             |  FROM documents WHERE doc_id % 3 = 0),
             |cls AS (
             |  SELECT t.lang AS t_lang, s.lang AS s_lang,
             |    t.doc_id AS t_doc_id, s.doc_id AS s_doc_id,
             |    t.text AS t_text, t.n_chars AS t_n_chars,
             |    s.n_chars AS s_n_chars, s.op AS op
             |  FROM tgt t FULL OUTER JOIN src s
             |    ON t.lang = s.lang AND t.doc_id = s.doc_id),
             |fin AS (
             |  -- matched, clause order: bump-update first, else delete
             |  SELECT t_lang AS lang, t_doc_id AS doc_id, t_text AS text,
             |    t_n_chars + s_n_chars AS n_chars
             |  FROM cls WHERE t_doc_id IS NOT NULL AND s_doc_id IS NOT NULL
             |    AND op = 'bump'
             |  UNION ALL
             |  -- not matched: insert listed columns, text NULL
             |  SELECT s_lang, s_doc_id, NULL, s_n_chars
             |  FROM cls WHERE t_doc_id IS NULL AND op = 'bump'
             |  UNION ALL
             |  -- not matched by source, clause order: %10=8 deletes,
             |  -- the rest decrement
             |  SELECT t_lang, t_doc_id, t_text, t_n_chars - 1
             |  FROM cls WHERE s_doc_id IS NULL AND t_doc_id % 10 <> 8)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS null_texts,
             |  CAST(sum(('0x' || substr(md5(coalesce(text, '~')), 1, 8))::BIGINT)
             |    AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // SQL-TEXT INSERT under the oracle: positional INSERT INTO … SELECT
    // appends, an explicit column list NULLs the unlisted column, and
    // the whole surface rides the same engine write (additive commit,
    // stats, txn machinery) — replayed relationally by DuckDB.
    Q(
      "q120_sql_insert",
      (s, dir) => {
        val out = scratchDir("graft-gate-sqlins") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"), statsCols = Seq("doc_id"))                         // v1
        docs.createOrReplaceTempView("q120_docs")
        val v2 = s.sql(
          s"""INSERT INTO `graft-manifest`.`$out`
             |SELECT lang, doc_id + 1000000, upper(text), n_chars + 17
             |FROM q120_docs WHERE doc_id % 2 = 1""".stripMargin)
          .collect().head.getLong(0)
        require(v2 == 2L, s"SQL insert must publish v2, got $v2")
        val v3 = s.sql(
          s"""INSERT INTO `graft-manifest`.`$out` (lang, doc_id, n_chars)
             |SELECT lang, doc_id + 2000000, n_chars
             |FROM q120_docs WHERE doc_id % 97 = 0""".stripMargin)
          .collect().head.getLong(0)
        require(v3 == 3L, s"SQL column-list insert must publish v3, got $v3")
        ManifestLake.read(s, out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            count(when(col("text").isNull, lit(1))).as("null_texts"),
            sum(conv(substring(md5(coalesce(col("text"), lit("~"))), 1, 8), 16, 10)
              .cast("long")).as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""WITH fin AS (
             |  SELECT lang, doc_id, text, n_chars FROM documents
             |  WHERE doc_id % 2 = 0
             |  UNION ALL
             |  SELECT lang, doc_id + 1000000, upper(text), n_chars + 17
             |  FROM documents WHERE doc_id % 2 = 1
             |  UNION ALL
             |  SELECT lang, doc_id + 2000000, NULL, n_chars
             |  FROM documents WHERE doc_id % 97 = 0)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS null_texts,
             |  CAST(sum(('0x' || substr(md5(coalesce(text, '~')), 1, 8))::BIGINT)
             |    AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // DYNAMIC PARTITION OVERWRITE under the oracle: one SQL
    // INSERT OVERWRITE swaps a statically-named partition, a second
    // swaps the partitions the QUERY names (dynamic spec) — each ONE
    // atomic commit; untouched partitions carry by reference. The live
    // table AND the stamped delete+insert change feed hash-match
    // DuckDB's relational replay.
    Q(
      "q121_sql_overwrite_partition",
      (s, dir) => {
        val out = scratchDir("graft-gate-owp") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs, out, Seq("lang"), statsCols = Seq("doc_id")) // v1
        docs.createOrReplaceTempView("q121_docs")
        val langs = docs.select(col("lang")).distinct()
          .orderBy(col("lang")).collect().map(_.getString(0))
        val (l0, l1) = (langs.head, langs.last)
        val v2 = s.sql(
          s"""INSERT OVERWRITE `graft-manifest`.`$out` PARTITION (lang='$l0')
             |SELECT doc_id + 500000, upper(text), n_chars + 3
             |FROM q121_docs WHERE lang = '$l0' AND doc_id % 2 = 0""".stripMargin)
          .collect().head.getLong(0)
        require(v2 == 2L, s"static partition overwrite must publish v2, got $v2")
        // the all-dynamic spec under DYNAMIC mode replaces exactly the
        // partitions the query produces (in STATIC mode — the default —
        // it matches every partition and the table replaces wholesale,
        // Spark's own semantics; q127 gates the static-mode side)
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        val v3 =
          try s.sql(
            s"""INSERT OVERWRITE `graft-manifest`.`$out` PARTITION (lang)
               |SELECT lang, doc_id, text, n_chars + 1000
               |FROM q121_docs WHERE lang = '$l1' AND doc_id % 3 = 0""".stripMargin)
            .collect().head.getLong(0)
          finally s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        require(v3 == 3L, s"dynamic partition overwrite must publish v3, got $v3")
        val cols = Seq(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        val feed = ManifestLake.readChangeFeed(s, out, fromV = 1L, toV = 3L)
          .select(col("_change_type").as("state") +: cols: _*)
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("state") +: cols: _*)
        feed.unionByName(live)
          .groupBy(col("state"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("state"), col("lang"))
      },
      Some("""WITH l0 AS (SELECT min(lang) AS v FROM documents),
             |l1 AS (SELECT max(lang) AS v FROM documents),
             |new0 AS (
             |  SELECT lang, doc_id + 500000 AS doc_id, upper(text) AS text,
             |    n_chars + 3 AS n_chars
             |  FROM documents WHERE lang = (SELECT v FROM l0) AND doc_id % 2 = 0),
             |new1 AS (
             |  SELECT lang, doc_id, text, n_chars + 1000 AS n_chars
             |  FROM documents WHERE lang = (SELECT v FROM l1) AND doc_id % 3 = 0),
             |fin AS (
             |  SELECT state, lang, doc_id, text, n_chars FROM (
             |    SELECT 'live' AS state, lang, doc_id, text, n_chars FROM documents
             |    WHERE lang NOT IN ((SELECT v FROM l0), (SELECT v FROM l1))
             |    UNION ALL
             |    SELECT 'live', lang, doc_id, text, n_chars FROM new0
             |    UNION ALL
             |    SELECT 'live', lang, doc_id, text, n_chars FROM new1
             |    UNION ALL
             |    SELECT 'delete', lang, doc_id, text, n_chars FROM documents
             |    WHERE lang IN ((SELECT v FROM l0), (SELECT v FROM l1))
             |    UNION ALL
             |    SELECT 'insert', lang, doc_id, text, n_chars FROM new0
             |    UNION ALL
             |    SELECT 'insert', lang, doc_id, text, n_chars FROM new1))
             |SELECT state, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM fin GROUP BY state, lang ORDER BY state, lang""".stripMargin)),

    // The HISTORY / DETAIL metadata views through pure SQL: a known
    // commit ledger (replace, append, delete) read back via temp views
    // over the graft-manifest source (OPTIONS view 'history'/'detail'),
    // joined with a per-version time-travel row count — op kinds,
    // version numbers, row counts, schema width, partitioning, and the
    // change-feed flag hash-match DuckDB replaying the same ledger.
    // (n_files is deliberately excluded: it is LAYOUT, not data.)
    Q(
      "q122_sql_history",
      (s, dir) => {
        val out = scratchDir("graft-gate-hist") + "/table"
        val docs = graft.Tables.documents(s, dir)
        docs.where(pmod(col("doc_id"), lit(2L)) === 0).repartition(1)
          .write.format("graft-manifest").mode("overwrite").save(out) // v1
        docs.where(pmod(col("doc_id"), lit(2L)) === 1).repartition(1)
          .write.format("graft-manifest").mode("append").save(out) // v2
        ManifestLake.delete(s, out, pmod(col("doc_id"), lit(7L)) === 0) // v3
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gate_hist
                 |USING `graft-manifest` OPTIONS (path '$out', view 'history')""".stripMargin)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gate_detail
                 |USING `graft-manifest` OPTIONS (path '$out', view 'detail')""".stripMargin)
        // per-version counts via the SQL time-travel spelling on the
        // DIRECT multipart reference — the parser-resolved read path
        // (`graft-manifest`.`path` + VERSION AS OF) rides the gate too
        val counts = (1L to 3L).map { v =>
          s.sql(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows
                   |FROM `graft-manifest`.`$out` VERSION AS OF $v""".stripMargin)
            .withColumn("version", lit(v))
        }.reduce(_ unionByName _)
        s.sql("SELECT version, op FROM gate_hist")
          .join(counts, Seq("version"))
          .crossJoin(s.sql(
            "SELECT n_columns, change_feed, partition_cols FROM gate_detail"))
          .orderBy(col("version"))
      },
      Some("""WITH hist(version, op, n_rows) AS (VALUES
             |  (1, 'replace', (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)),
             |  (2, 'append',  (SELECT count(*) FROM documents)),
             |  (3, 'delete',  (SELECT count(*) FROM documents WHERE doc_id % 7 <> 0)))
             |SELECT CAST(version AS BIGINT) AS version, op,
             |  CAST(n_rows AS BIGINT) AS n_rows,
             |  (SELECT count(*) FROM (DESCRIBE SELECT * FROM documents)) AS n_columns,
             |  true AS change_feed, '' AS partition_cols
             |FROM hist ORDER BY version""".stripMargin)),

    // ALTER TABLE through SQL, under the oracle: ADD COLUMN, RENAME
    // COLUMN (metadata-only column mapping), ALTER COLUMN TYPE widening
    // on the RENAMED column, and ADD CONSTRAINT — then an append under
    // the evolved logical schema, read back through the DIRECT SQL
    // spelling (`graft-manifest`.`path`, which must serve LOGICAL names
    // over the mapping). Hash-matches DuckDB replaying old-rows-with-
    // NULL-note ∪ new-rows relationally.
    Q(
      "q123_sql_alter",
      (s, dir) => {
        val out = scratchDir("graft-gate-sqlalter") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("text"),
            col("n_chars").cast("int").as("nc"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang")) // v1
        val t = s"`graft-manifest`.`$out`"
        s.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)") // v2
        s.sql(s"ALTER TABLE $t RENAME COLUMN nc TO len") // v3: mapping
        s.sql(s"ALTER TABLE $t ALTER COLUMN len TYPE BIGINT") // v4: widen
        s.sql(s"ALTER TABLE $t ADD CONSTRAINT len_pos CHECK (len >= 0)") // v5
        ManifestLake.write(s,
          docs.where(pmod(col("doc_id"), lit(2L)) === 1)
            .withColumnRenamed("nc", "len")
            .withColumn("len", col("len").cast("long"))
            .withColumn("note", concat(lit("n"), col("doc_id"))),
          out, Seq("lang"), replace = false) // v6: append, enforced
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(len) AS BIGINT) AS sum_len,
             |  count(note) AS n_notes,
             |  CAST(sum(CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM $t GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH ev AS (
             |  SELECT lang, doc_id, text, n_chars AS len, NULL AS note
             |  FROM documents WHERE doc_id % 2 = 0
             |  UNION ALL
             |  SELECT lang, doc_id, text, n_chars, 'n' || doc_id
             |  FROM documents WHERE doc_id % 2 = 1)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(len) AS BIGINT) AS sum_len,
             |  count(note) AS n_notes,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM ev GROUP BY lang ORDER BY lang""".stripMargin)),

    // Table utilities through SQL, under the oracle: TRUNCATE a named
    // partition (metadata-only delete inside), then SHOW PARTITIONS
    // must list exactly the surviving partitions and the direct read's
    // per-partition counts must hash-match DuckDB computing the same
    // survivors relationally.
    Q(
      "q124_sql_utilities",
      (s, dir) => {
        val out = scratchDir("graft-gate-sqlutil") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars"))
        ManifestLake.write(s, docs, out, Seq("lang"))
        val l0 = docs.select(min(col("lang"))).collect().head.getString(0)
        val t = s"`graft-manifest`.`$out`"
        s.sql(s"TRUNCATE TABLE $t PARTITION (lang='$l0')")
        val live = s.sql(
          s"""SELECT concat('lang=', lang) AS partition,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM $t GROUP BY lang""".stripMargin)
        s.sql(s"SHOW PARTITIONS $t")
          .join(live, Seq("partition"))
          .orderBy(col("partition"))
      },
      Some("""WITH l0 AS (SELECT min(lang) AS v FROM documents)
             |SELECT 'lang=' || lang AS partition, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE lang <> (SELECT v FROM l0)
             |GROUP BY lang ORDER BY partition""".stripMargin)),

    // CREATE TABLE through SQL, under the oracle: an empty CREATE with
    // a GENERATED column and a CHECK constraint in the definition, an
    // INSERT with a column list (the generated column computes because
    // it is ABSENT, not NULL), and a partitioned CTAS — both tables
    // read back and hash-matched against DuckDB computing the same
    // content (generated values included) relationally.
    Q(
      "q125_sql_create",
      (s, dir) => {
        val out = scratchDir("graft-gate-sqlcreate")
        val (t1, t2) = (s"`graft-manifest`.`$out/t1`", s"`graft-manifest`.`$out/t2`")
        graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
          .createOrReplaceTempView("q125_docs")
        s.sql(
          s"""CREATE TABLE $t1 (lang STRING, doc_id BIGINT, text STRING,
             |  n_chars BIGINT,
             |  n2 BIGINT GENERATED ALWAYS AS (n_chars * 2),
             |  CONSTRAINT nonneg CHECK (n_chars >= 0))
             |PARTITIONED BY (lang)
             |TBLPROPERTIES ('graft.statsCols' = 'doc_id')""".stripMargin)
        s.sql(
          s"""INSERT INTO $t1 (lang, doc_id, text, n_chars)
             |SELECT lang, doc_id, text, n_chars FROM q125_docs""".stripMargin)
        // the CREATE-declared stat tracking must STICK: every data file
        // the INSERT staged carries doc_id bounds for skipping (a
        // SQL-first table is a skippable table)
        locally {
          val (fs, root) = ManifestLake.fsFor(s, s"$out/t1")
          val m = ManifestLake.readManifest(fs, root,
            ManifestLake.currentVersion(s, s"$out/t1").get)
          val data = m.files.filter(_.rows.exists(_ > 0))
          require(data.nonEmpty && data.forall(_.stats.contains("doc_id")),
            "q125 gate: SQL-created table must collect declared doc_id stats")
        }
        s.sql(
          s"""CREATE TABLE $t2 PARTITIONED BY (lang) AS
             |SELECT lang, doc_id, n_chars FROM q125_docs
             |WHERE doc_id % 3 = 0""".stripMargin)
        val a = s.sql(
          s"""SELECT 'full' AS src, lang, count(*) AS n_docs,
             |  CAST(sum(n2) AS BIGINT) AS s2, max(doc_id) AS max_id
             |FROM $t1 GROUP BY lang""".stripMargin)
        val b = s.sql(
          s"""SELECT 'third' AS src, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars * 2) AS BIGINT) AS s2, max(doc_id) AS max_id
             |FROM $t2 GROUP BY lang""".stripMargin)
        a.unionByName(b).orderBy(col("src"), col("lang"))
      },
      Some("""SELECT 'full' AS src, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars * 2) AS BIGINT) AS s2, max(doc_id) AS max_id
             |FROM documents GROUP BY lang
             |UNION ALL
             |SELECT 'third', lang, count(*), CAST(sum(n_chars * 2) AS BIGINT),
             |  max(doc_id)
             |FROM documents WHERE doc_id % 3 = 0 GROUP BY lang
             |ORDER BY src, lang""".stripMargin)),

    // ANALYZE TABLE under the oracle: a stats-less table (written with
    // no statsCols) backfills per-file bounds METADATA-ONLY — required
    // in-line: the live file set is byte-identical before and after
    // (no rewrite), every data file gains doc_id bounds, and the op is
    // 'analyze' — then point lookups and aggregates over the analyzed
    // table hash-match DuckDB computing them relationally.
    Q(
      "q126_analyze",
      (s, dir) => {
        val out = scratchDir("graft-gate-analyze") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.repartition(4), out, Seq("lang")) // no stats
        val (fs, root) = ManifestLake.fsFor(s, out)
        val before = ManifestLake.readManifest(fs, root, 1L)
        require(before.files.forall(_.stats.isEmpty),
          "q126 gate: the pre-ANALYZE table must carry no bounds")
        val v = s.sql(s"""ANALYZE TABLE `graft-manifest`.`$out`
                         |COMPUTE STATISTICS FOR COLUMNS doc_id""".stripMargin)
          .collect().head.getLong(0)
        val after = ManifestLake.readManifest(fs, root, v)
        require(after.files.map(f => (f.path, f.bytes)).sorted ==
          before.files.map(f => (f.path, f.bytes)).sorted,
          "q126 gate: ANALYZE must not move or rewrite data files")
        require(after.files.forall(f => f.stats.contains("doc_id") &&
          f.rows.exists(_ > 0)),
          "q126 gate: every data file must gain doc_id bounds")
        require(after.op.contains("analyze"), "q126 gate: op must be analyze")
        val mid = docs.agg(max(col("doc_id"))).collect().head.getLong(0) / 2
        val hit = s.sql(
          s"""SELECT lang, doc_id, n_chars FROM `graft-manifest`.`$out`
             |WHERE doc_id = $mid""".stripMargin)
        val agg = s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  max(doc_id) AS max_id
             |FROM `graft-manifest`.`$out` WHERE doc_id > $mid
             |GROUP BY lang""".stripMargin)
        hit.select(lit("hit").as("leg"), col("lang"),
            col("doc_id").as("n_docs"), col("n_chars").as("sum_chars"),
            col("doc_id").as("max_id"))
          .unionByName(agg.withColumn("leg", lit("agg")))
          .orderBy(col("leg"), col("lang"))
      },
      Some("""WITH mid AS (SELECT max(doc_id) // 2 AS v FROM documents)
             |SELECT 'hit' AS leg, lang, doc_id AS n_docs,
             |  n_chars AS sum_chars, doc_id AS max_id
             |FROM documents WHERE doc_id = (SELECT v FROM mid)
             |UNION ALL
             |SELECT 'agg', lang, count(*), CAST(sum(n_chars) AS BIGINT),
             |  max(doc_id)
             |FROM documents WHERE doc_id > (SELECT v FROM mid) GROUP BY lang
             |ORDER BY leg, lang""".stripMargin)),

    // STATIC-mode INSERT OVERWRITE with a PARTIAL static PARTITION
    // spec: Spark/Hive semantics clear EVERY live partition matching
    // the static prefix — including the ones the batch writes no rows
    // into — in ONE commit. A two-level (lang, bkt) table overwrites
    // PARTITION (lang=l0, bkt) with a batch that only produces even
    // buckets; the odd buckets under l0 must vanish, every other lang
    // must carry by reference. Live table AND the stamped
    // delete+insert change feed hash-match DuckDB's replay.
    Q(
      "q127_sql_static_overwrite",
      (s, dir) => {
        val out = scratchDir("graft-gate-sow") + "/table"
        val base = graft.Tables.documents(s, dir)
          .select(col("lang"), pmod(col("doc_id"), lit(4L)).cast("string").as("bkt"),
            col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, base, out, Seq("lang", "bkt"),
          statsCols = Seq("doc_id"))                                     // v1
        base.createOrReplaceTempView("q127_docs")
        val l0 = base.select(min(col("lang"))).collect().head.getString(0)
        val v2 = s.sql(
          s"""INSERT OVERWRITE `graft-manifest`.`$out` PARTITION (lang='$l0', bkt)
             |SELECT bkt, doc_id + 500000, upper(text), n_chars + 3
             |FROM q127_docs
             |WHERE lang = '$l0' AND bkt IN ('0', '2')""".stripMargin)
          .collect().head.getLong(0)
        require(v2 == 2L,
          s"partial-static overwrite must be ONE commit (v2), got $v2")
        val cols = Seq(col("lang"), col("bkt"), col("doc_id"), col("text"),
          col("n_chars"))
        val feed = ManifestLake.readChangeFeed(s, out, fromV = 1L, toV = 2L)
          .select(col("_change_type").as("state") +: cols: _*)
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("state") +: cols: _*)
        feed.unionByName(live)
          .groupBy(col("state"), col("lang"), col("bkt"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("state"), col("lang"), col("bkt"))
      },
      Some("""WITH l0 AS (SELECT min(lang) AS v FROM documents),
             |base AS (
             |  SELECT lang, CAST(doc_id % 4 AS VARCHAR) AS bkt, doc_id,
             |    text, n_chars
             |  FROM documents),
             |newr AS (
             |  SELECT lang, bkt, doc_id + 500000 AS doc_id,
             |    upper(text) AS text, n_chars + 3 AS n_chars
             |  FROM base
             |  WHERE lang = (SELECT v FROM l0) AND bkt IN ('0', '2')),
             |fin AS (
             |  SELECT 'live' AS state, lang, bkt, doc_id, text, n_chars
             |  FROM base WHERE lang <> (SELECT v FROM l0)
             |  UNION ALL
             |  SELECT 'live', lang, bkt, doc_id, text, n_chars FROM newr
             |  UNION ALL
             |  SELECT 'delete', lang, bkt, doc_id, text, n_chars
             |  FROM base WHERE lang = (SELECT v FROM l0)
             |  UNION ALL
             |  SELECT 'insert', lang, bkt, doc_id, text, n_chars FROM newr)
             |SELECT state, lang, bkt, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM fin GROUP BY state, lang, bkt
             |ORDER BY state, lang, bkt""".stripMargin)),

    // SQL MERGE with NULL key values under the STANDARD `=` spelling:
    // a NULL key matches NOTHING (ANSI/Delta semantics) — NULL-keyed
    // target rows survive untouched, NULL-keyed source rows INSERT —
    // while non-NULL keys route through the clause matrix normally.
    // DuckDB replays the same statement with plain `=` joins, which
    // carry the identical NULL semantics, so the hash only matches if
    // the engine's key join does too (the null-safe `<=>` behavior
    // would collapse the NULL rows and diverge).
    Q(
      "q128_sql_merge_null_keys",
      (s, dir) => {
        val out = scratchDir("graft-gate-nullk") + "/table"
        val docs = graft.Tables.documents(s, dir)
        val keyed = docs.select(col("lang"),
          when(pmod(col("doc_id"), lit(7L)) === 0, lit(null).cast("long"))
            .otherwise(col("doc_id")).as("k"),
          col("text"), col("n_chars"))
        ManifestLake.write(s,
          keyed.where(pmod(col("doc_id"), lit(2L)) === 0), out, Seq("lang")) // v1
        docs.where(pmod(col("doc_id"), lit(3L)) === 0)
          .select(col("lang"),
            when(pmod(col("doc_id"), lit(7L)) === 0, lit(null).cast("long"))
              .otherwise(col("doc_id")).as("k"),
            upper(col("text")).as("text"),
            (col("n_chars") + 7L).as("n_chars"))
          .createOrReplaceTempView("q128_src")
        val st = s.sql(
          s"""MERGE INTO `graft-manifest`.`$out` t
             |USING q128_src s
             |ON t.lang = s.lang AND t.k = s.k
             |WHEN MATCHED AND s.n_chars % 4 = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin).collect().head
        require(st.getLong(0) == 2L,
          s"null-key SQL merge must publish v2, got ${st.getLong(0)}")
        ManifestLake.read(s, out)
          .groupBy(col("lang"), col("k").isNull.cast("int").as("k_null"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("k")).as("max_k"))
          .orderBy(col("lang"), col("k_null"))
      },
      Some("""WITH tgt AS (
             |  SELECT lang,
             |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE doc_id END AS k,
             |    text, n_chars
             |  FROM documents WHERE doc_id % 2 = 0),
             |src AS (
             |  SELECT lang,
             |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE doc_id END AS k,
             |    upper(text) AS text, n_chars + 7 AS n_chars
             |  FROM documents WHERE doc_id % 3 = 0),
             |fin AS (
             |  SELECT t.lang, t.k, t.text, t.n_chars FROM tgt t
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM src s WHERE s.lang = t.lang AND s.k = t.k)
             |  UNION ALL
             |  SELECT s.lang, s.k, s.text, s.n_chars
             |  FROM tgt t JOIN src s ON t.lang = s.lang AND t.k = s.k
             |  WHERE s.n_chars % 4 <> 0
             |  UNION ALL
             |  SELECT s.lang, s.k, s.text, s.n_chars FROM src s
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM tgt t WHERE t.lang = s.lang AND t.k = s.k))
             |SELECT lang, CAST(k IS NULL AS INT) AS k_null,
             |  count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(k) AS max_k
             |FROM fin GROUP BY lang, k_null
             |ORDER BY lang, k_null""".stripMargin)),

    // SNAPSHOT CLONE through pure SQL: CREATE TABLE … AS SELECT from
    // a `graft-manifest`.`path` reference pinned with VERSION AS OF —
    // the natural clone-at-a-version idiom ([[GraftSqlParser]] routes
    // rewriteReads through the CTAS query sub-plan). The clone serves
    // v1's content while the source head has moved on; both legs
    // hash-match DuckDB.
    Q(
      "q129_sql_ctas_clone",
      (s, dir) => {
        val src = scratchDir("graft-gate-clone-src") + "/table"
        val dst = scratchDir("graft-gate-clone-dst") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          src, Seq("lang"))                                              // v1
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 1),
          src, Seq("lang"), replace = false)                             // v2
        s.sql(s"""CREATE TABLE `graft-manifest`.`$dst`
                 |USING `graft-manifest` PARTITIONED BY (lang)
                 |AS SELECT * FROM `graft-manifest`.`$src` VERSION AS OF 1"""
          .stripMargin)
        def leg(name: String, df: DataFrame): DataFrame =
          df.groupBy(col("lang"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).cast("long").as("sum_chars"),
              sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
                .as("content_sum"),
              max(col("doc_id")).as("max_id"))
            .withColumn("leg", lit(name))
        leg("clone", ManifestLake.read(s, dst))
          .unionByName(leg("head", ManifestLake.read(s, src)))
          .select(col("leg"), col("lang"), col("n_docs"), col("sum_chars"),
            col("content_sum"), col("max_id"))
          .orderBy(col("leg"), col("lang"))
      },
      Some("""WITH legs AS (
             |  SELECT 'clone' AS leg, lang, doc_id, text, n_chars
             |  FROM documents WHERE doc_id % 2 = 0
             |  UNION ALL
             |  SELECT 'head', lang, doc_id, text, n_chars FROM documents)
             |SELECT leg, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM legs GROUP BY leg, lang ORDER BY leg, lang""".stripMargin)),

    // MAINTENANCE through pure SQL (round 16): OPTIMIZE compacts the
    // fragmented table, DESCRIBE HISTORY reads the ledger, RESTORE
    // rolls back to v1 with zero data I/O, VACUUM (dry-run-then-real,
    // required identical in-line) reaps everything but the head. The
    // post-maintenance LIVE content must equal v1's exactly, and the
    // ledger must read replace→append→compact→restore — both legs
    // hash-matched against DuckDB.
    Q(
      "q130_sql_maintenance",
      (s, dir) => {
        import s.implicits._
        val out = scratchDir("graft-gate-maint") + "/table"
        val t = s"`graft-manifest`.`$out`"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"))                                              // v1
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 1),
          out, Seq("lang"), replace = false)                             // v2
        val opt = s.sql(s"OPTIMIZE $t").collect()                        // v3
        require(opt.nonEmpty && opt.forall(r => r.getInt(1) > r.getInt(2)),
          "q130 gate: OPTIMIZE must rewrite every fragmented partition")
        val rv = s.sql(s"RESTORE TABLE $t TO VERSION AS OF 1")
          .collect().head.getLong(0)                                     // v4
        require(rv == 4L, s"q130 gate: restore must publish v4, got $rv")
        val hist = s.sql(s"DESCRIBE HISTORY $t").collect()
          .map(r => (r.getString(1), r.getLong(0)))                      // pre-vacuum
        val det = s.sql(s"DESCRIBE DETAIL $t").collect()
        require(det.length == 1 &&
          det.head.getAs[Long]("version") == 4L &&
          det.head.getAs[String]("op") == "restore" &&
          det.head.getAs[String]("partition_cols") == "lang",
          s"q130 gate: DESCRIBE DETAIL must summarize the restored head, " +
            s"got ${det.mkString(", ")}")
        val dry = s.sql(s"VACUUM $t KEEP 1 VERSIONS DRY RUN")
          .collect().map(_.getString(0)).toSet
        val gone = s.sql(s"VACUUM $t KEEP 1 VERSIONS")
          .collect().map(_.getString(0)).toSet
        require(gone.nonEmpty && gone == dry,
          s"q130 gate: vacuum must reap exactly the dry-run list " +
            s"(dry ${dry.size}, real ${gone.size})")
        val live = ManifestLake.read(s, out)
          .groupBy(col("lang").as("key"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .withColumn("leg", lit("live"))
        val ledger = hist.toSeq.toDF("key", "n_docs")
          .withColumn("leg", lit("hist"))
          .withColumn("sum_chars", lit(null).cast("long"))
          .withColumn("content_sum", lit(null).cast("long"))
          .withColumn("max_id", lit(null).cast("long"))
        live.unionByName(ledger)
          .select(col("leg"), col("key"), col("n_docs"), col("sum_chars"),
            col("content_sum"), col("max_id"))
          .orderBy(col("leg"), col("key"))
      },
      Some("""WITH live AS (
             |  SELECT lang, doc_id, text, n_chars FROM documents
             |  WHERE doc_id % 2 = 0)
             |SELECT 'live' AS leg, lang AS key, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM live GROUP BY lang
             |UNION ALL
             |SELECT 'hist', op, CAST(v AS BIGINT), CAST(NULL AS BIGINT),
             |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
             |FROM (VALUES ('replace', 1), ('append', 2), ('compact', 3),
             |  ('restore', 4)) AS h(op, v)
             |ORDER BY leg, key""".stripMargin)),

    // The row-level change feed through PURE SQL (round 16):
    // `table_changes('<path>', 2, 4)` — Delta's TVF idiom with
    // INCLUSIVE version bounds — over q98's exact ledger (append +
    // upsert + append). The SQL window [2, 4] is the engine's
    // (1, 4], so the rows must hash-match the same DuckDB replay q98
    // pins for the Scala readChangeFeed: v2/v4 appends as inserts,
    // the upsert's exact pre-images, post-images, and inserts.
    Q(
      "q131_sql_table_changes",
      (s, dir) => {
        val out = scratchDir("graft-gate-sqlcdf") + "/table"
        val docs = graft.Tables.documents(s, dir)
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === 0),
          out, Seq("lang"))                                                  // v1
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === 1),
          out, Seq("lang"), replace = false)                                 // v2
        val updates = docs.where(pmod(col("doc_id"), lit(8L)) === 2)         // new keys
          .unionByName(docs.where(pmod(col("doc_id"), lit(8L)) === 4)        // rewrites of v1 keys
            .withColumn("text", concat(col("text"), lit("!")))
            .withColumn("n_chars", col("n_chars") + lit(1L)))
        ManifestLake.upsert(s, out, updates, Seq("lang"), Seq("lang", "doc_id")) // v3
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(4L)) === 3),
          out, Seq("lang"), replace = false)                                 // v4
        s.sql(
          s"""SELECT _change_type AS change_type,
             |  _commit_version AS commit_version, lang,
             |  count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)) AS BIGINT)
             |    AS content_sum,
             |  max(doc_id) AS max_id
             |FROM table_changes('$out', 2, 4)
             |GROUP BY _change_type, _commit_version, lang
             |ORDER BY commit_version, change_type, lang""".stripMargin)
      },
      Some("""WITH feed AS (
             |  SELECT 'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version, *
             |  FROM documents WHERE doc_id % 4 = 1
             |  UNION ALL
             |  SELECT 'insert', 3, * FROM documents WHERE doc_id % 8 = 2
             |  UNION ALL
             |  SELECT 'update_preimage', 3, * FROM documents WHERE doc_id % 8 = 4
             |  UNION ALL
             |  SELECT 'update_postimage', 3, doc_id, text || '!', lang, source,
             |    n_chars + 1
             |  FROM documents WHERE doc_id % 8 = 4
             |  UNION ALL
             |  SELECT 'insert', 4, * FROM documents WHERE doc_id % 4 = 3)
             |SELECT change_type, commit_version, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM feed GROUP BY change_type, commit_version, lang
             |ORDER BY commit_version, change_type, lang""".stripMargin)),

    // GENERATED PARTITION COLUMN through pure SQL (round 16): CREATE
    // TABLE declares `bkt` GENERATED ALWAYS AS a doc_id expression and
    // partitions by it; INSERT BY NAME ships batches WITHOUT the
    // column; the engine computes it and the computed value drives the
    // hive layout (SHOW PARTITIONS must list exactly the 4 buckets,
    // required in-line). The read-back per (bkt, lang) hash-matches
    // DuckDB recomputing the expression relationally.
    Q(
      "q132_sql_generated_partition",
      (s, dir) => {
        val out = scratchDir("graft-gate-genpart") + "/table"
        val t = s"`graft-manifest`.`$out`"
        s.sql(
          s"""CREATE TABLE $t (
             |  lang STRING, doc_id BIGINT, text STRING, n_chars BIGINT,
             |  bkt STRING GENERATED ALWAYS AS (CAST(doc_id % 4 AS STRING)))
             |USING `graft-manifest` PARTITIONED BY (bkt)""".stripMargin)
        graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
          .createOrReplaceTempView("q132_docs")
        s.sql(s"INSERT INTO $t BY NAME SELECT * FROM q132_docs")
        val parts = s.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0))
        require(parts.sorted.toSeq ==
          Seq("bkt=0", "bkt=1", "bkt=2", "bkt=3"),
          s"q132 gate: computed partitions must be the 4 buckets, got " +
            parts.mkString(", "))
        s.sql(
          s"""SELECT bkt, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)) AS BIGINT)
             |    AS content_sum,
             |  max(doc_id) AS max_id
             |FROM $t GROUP BY bkt, lang ORDER BY bkt, lang""".stripMargin)
      },
      Some("""SELECT CAST(doc_id % 4 AS VARCHAR) AS bkt, lang,
             |  count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM documents GROUP BY bkt, lang
             |ORDER BY bkt, lang""".stripMargin)),

    // SHOW CREATE TABLE round-trip (round 16): the emitted DDL is
    // RUNNABLE — executing it on a fresh path (path swapped, nothing
    // else) re-creates the shape (generated partition column, CHECK
    // constraint, sticky statsCols), and the original's rows INSERT
    // BY NAME into the clone unchanged. Both legs hash-match DuckDB
    // recomputing the generated expression relationally; the emitted
    // text's load-bearing clauses are required in-line.
    Q(
      "q133_sql_show_create",
      (s, dir) => {
        val src = scratchDir("graft-gate-sct-src") + "/table"
        val dst = scratchDir("graft-gate-sct-dst") + "/table"
        s.sql(
          s"""CREATE TABLE `graft-manifest`.`$src` (
             |  lang STRING COMMENT 'bcp47 tag',
             |  doc_id BIGINT NOT NULL, text STRING, n_chars BIGINT,
             |  bkt STRING GENERATED ALWAYS AS (CAST(doc_id % 4 AS STRING)),
             |  CONSTRAINT pos_id CHECK (doc_id >= 0))
             |USING `graft-manifest` PARTITIONED BY (bkt)
             |COMMENT 'gate table'
             |TBLPROPERTIES ('graft.statsCols' = 'doc_id')""".stripMargin)
        graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
          .createOrReplaceTempView("q133_docs")
        s.sql(s"INSERT INTO `graft-manifest`.`$src` BY NAME SELECT * FROM q133_docs")
        val stmt = s.sql(s"SHOW CREATE TABLE `graft-manifest`.`$src`")
          .head().getString(0)
        require(stmt.contains("GENERATED ALWAYS AS") &&
          stmt.contains("`doc_id` BIGINT NOT NULL") &&
          !stmt.contains("graft_nn_doc_id") &&
          stmt.contains("CONSTRAINT `pos_id` CHECK (doc_id >= 0)") &&
          stmt.contains("PARTITIONED BY (`bkt`)") &&
          stmt.contains("COMMENT 'bcp47 tag'") &&
          stmt.contains("COMMENT 'gate table'") &&
          stmt.contains("'graft.statsCols' = 'doc_id'"),
          s"q133 gate: emitted DDL must carry every recorded clause:\n$stmt")
        s.sql(stmt.replace(src, dst))
        s.sql(s"INSERT INTO `graft-manifest`.`$dst` BY NAME " +
          s"SELECT * FROM `graft-manifest`.`$src`")
        def leg(name: String, path: String) =
          ManifestLake.read(s, path)
            .groupBy(col("bkt"), col("lang"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).cast("long").as("sum_chars"),
              sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
                .as("content_sum"),
              max(col("doc_id")).as("max_id"))
            .withColumn("leg", lit(name))
        leg("clone", dst).unionByName(leg("src", src))
          .select(col("leg"), col("bkt"), col("lang"), col("n_docs"),
            col("sum_chars"), col("content_sum"), col("max_id"))
          .orderBy(col("leg"), col("bkt"), col("lang"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(doc_id % 4 AS VARCHAR) AS bkt, lang, doc_id,
             |    text, n_chars
             |  FROM documents),
             |legs AS (
             |  SELECT 'clone' AS leg, * FROM base
             |  UNION ALL
             |  SELECT 'src', * FROM base)
             |SELECT leg, bkt, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM legs GROUP BY leg, bkt, lang
             |ORDER BY leg, bkt, lang""".stripMargin)),

    // MERGE WITH SCHEMA EVOLUTION (round 16): the source ships an
    // extra `score` column the table never had; the statement ADDS it
    // (metadata-only, nullable) and the clause matrix then runs
    // against the evolved schema — updated and inserted rows carry
    // source scores, untouched target rows serve NULL, and deletes
    // fire as usual. Hash-matched against DuckDB replaying the same
    // FULL OUTER JOIN + CASE with the score recomputed relationally.
    Q(
      "q134_sql_merge_evolution",
      (s, dir) => {
        val out = scratchDir("graft-gate-evolve") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        ManifestLake.write(s, docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          out, Seq("lang"))                                              // v1
        docs.where(pmod(col("doc_id"), lit(3L)) === 0)
          .withColumn("text", upper(col("text")))
          .withColumn("score", col("n_chars") * 3L)
          .createOrReplaceTempView("q134_src")
        val st = s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO `graft-manifest`.`$out` t
             |USING q134_src s
             |ON t.lang = s.lang AND t.doc_id = s.doc_id
             |WHEN MATCHED AND s.doc_id % 5 = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin).collect().head
        require(st.getLong(0) == 2L,
          "evolution folds into the merge's SINGLE atomic commit (v2) — " +
            s"got v${st.getLong(0)}")
        ManifestLake.read(s, out)
          .groupBy(col("lang"), col("score").isNull.cast("int").as("score_null"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(coalesce(col("score"), lit(-1L))).cast("long").as("sum_score"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"), col("score_null"))
      },
      Some("""WITH tgt AS (
             |  SELECT lang, doc_id, text, n_chars FROM documents
             |  WHERE doc_id % 2 = 0),
             |src AS (
             |  SELECT lang, doc_id, upper(text) AS text, n_chars,
             |    n_chars * 3 AS score
             |  FROM documents WHERE doc_id % 3 = 0),
             |fin AS (
             |  SELECT t.lang, t.doc_id, t.text, t.n_chars,
             |    CAST(NULL AS BIGINT) AS score
             |  FROM tgt t
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM src s
             |    WHERE s.lang = t.lang AND s.doc_id = t.doc_id)
             |  UNION ALL
             |  SELECT s.lang, s.doc_id, s.text, s.n_chars, s.score
             |  FROM tgt t JOIN src s
             |    ON t.lang = s.lang AND t.doc_id = s.doc_id
             |  WHERE s.doc_id % 5 <> 0
             |  UNION ALL
             |  SELECT s.lang, s.doc_id, s.text, s.n_chars, s.score
             |  FROM src s
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM tgt t
             |    WHERE t.lang = s.lang AND t.doc_id = s.doc_id))
             |SELECT lang, CAST(score IS NULL AS INT) AS score_null,
             |  count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(coalesce(score, -1)) AS BIGINT) AS sum_score,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM fin GROUP BY lang, score_null
             |ORDER BY lang, score_null""".stripMargin)),

    // DEEP nested-field evolution under the oracle (round 16): a
    // genomic-evidence-shaped table (entries: array<struct<did,
    // ev: array<struct<q>>>>) renames the intermediate node, renames
    // and widens THROUGH it — all metadata-only (byte-identical file
    // set required in-line) — and the logical read then serves the
    // renamed names at the widened type. DuckDB replays the VALUES
    // relationally (a metadata rename can never change them), so the
    // hash only matches if the deep mapping is value-exact.
    Q(
      "q135_deep_nested_evolution",
      (s, dir) => {
        val out = scratchDir("graft-gate-deepnest") + "/table"
        val docs = graft.Tables.documents(s, dir)
        val nested = docs.select(col("lang"), col("doc_id"),
          array(struct(col("doc_id").as("did"),
            array(struct(pmod(col("n_chars"), lit(128L)).cast("int").as("q")))
              .as("ev"))).as("entries"))
        ManifestLake.write(s, nested, out, Seq("lang"))                  // v1
        ManifestLake.renameColumn(s, out, "entries.ev", "evidence")      // v2
        ManifestLake.renameColumn(s, out, "entries.evidence.q", "quality") // v3
        ManifestLake.widenColumnType(s, out, "entries.evidence.quality",
          org.apache.spark.sql.types.LongType)                           // v4
        val (fs, root) = ManifestLake.fsFor(s, out)
        require(ManifestLake.readManifest(fs, root, 4L).files.map(_.path) ==
          ManifestLake.readManifest(fs, root, 1L).files.map(_.path),
          "q135 gate: deep rename/widen must move ZERO data files")
        val r = ManifestLake.read(s, out)
        require(r.schema("entries").dataType.catalogString ==
          "array<struct<did:bigint,evidence:array<struct<quality:bigint>>>>",
          s"q135 gate: logical shape must carry the renames at the " +
            s"widened type, got ${r.schema("entries").dataType.catalogString}")
        r.select(col("lang"), col("doc_id"),
            expr("entries[0].did").as("did"),
            expr("entries[0].evidence[0].quality").as("quality"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("quality")).cast("long").as("sum_quality"),
            sum(col("did")).cast("long").as("sum_did"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars % 128) AS BIGINT) AS sum_quality,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_did,
             |  max(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // NAMED tables through the DSv2 catalog (round 17): the whole
    // lifecycle a SQL-first user runs — CREATE by name, INSERT by
    // name, the q123 ALTER chain by name, a df.writeTo(...).append()
    // (the DataFrameWriterV2 route, which never passes through the
    // parser), and the q108 clause-matrix MERGE by name — with SHOW
    // TABLES and name↔path state identity required in-line, and the
    // final table hash-matched against DuckDB replaying the same
    // evolution + merge relationally. One gate proving the catalog
    // spelling is the SAME engine, not a parallel implementation.
    Q(
      "q136_named_catalog",
      (s, dir) => {
        val wh = scratchDir("graft-gate-namedwh")
        s.conf.set("spark.sql.catalog.gatecat", "graft.etl.GraftCatalog")
        s.conf.set("spark.sql.catalog.gatecat.warehouse", wh)
        val docs = graft.Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("text"),
            col("n_chars").cast("int").as("nc"))
        val T = "gatecat.gate.docs"
        s.sql(s"CREATE TABLE $T (doc_id BIGINT, lang STRING, text STRING, " +
          "nc INT) PARTITIONED BY (lang)")                               // v1
        docs.where(pmod(col("doc_id"), lit(2L)) === 0)
          .createOrReplaceTempView("q136_evens")
        s.sql(s"INSERT INTO $T SELECT doc_id, lang, text, nc FROM q136_evens") // v2
        // q123's ALTER chain, by NAME
        s.sql(s"ALTER TABLE $T ADD COLUMNS (note STRING)")               // v3
        s.sql(s"ALTER TABLE $T RENAME COLUMN nc TO len")                 // v4
        s.sql(s"ALTER TABLE $T ALTER COLUMN len TYPE BIGINT")            // v5
        s.sql(s"ALTER TABLE $T ADD CONSTRAINT len_pos CHECK (len >= 0)") // v6
        // odds arrive via df.writeTo — the programmatic route that
        // resolves through the catalog, not the parser
        docs.where(pmod(col("doc_id"), lit(2L)) === 1)
          .withColumnRenamed("nc", "len")
          .withColumn("len", col("len").cast("long"))
          .withColumn("note", concat(lit("n"), col("doc_id")))
          .writeTo(T).append()                                           // v7
        require(s.sql("SHOW TABLES IN gatecat.gate").collect()
          .map(_.getString(1)).contains("docs"),
          "q136 gate: SHOW TABLES must list the named table")
        require(s.table(T).count() ==
          ManifestLake.read(s, s"$wh/gate/docs").count(),
          "q136 gate: name and path spellings must read the same state")
        // q108's clause matrix, by NAME, over the EVOLVED schema
        docs.where(pmod(col("doc_id"), lit(3L)) === 0)
          .withColumn("text", upper(col("text")))
          .withColumnRenamed("nc", "len")
          .withColumn("len", col("len").cast("long"))
          .createOrReplaceTempView("q136_src")
        val st = s.sql(
          s"""MERGE INTO $T t USING q136_src s
             |ON t.lang = s.lang AND t.doc_id = s.doc_id
             |WHEN MATCHED AND s.doc_id % 5 = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET text = s.text, len = s.len
             |WHEN NOT MATCHED AND s.len > 100 THEN
             |  INSERT (doc_id, lang, text, len, note)
             |  VALUES (s.doc_id, s.lang, s.text, s.len, concat('m', s.doc_id))
             |""".stripMargin).collect().head                            // v8
        require(st.getLong(0) == 8L,
          s"q136 gate: lifecycle must land at v8, got v${st.getLong(0)}")
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(len) AS BIGINT) AS sum_len,
             |  count(note) AS n_notes,
             |  CAST(sum(CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM $T GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH tgt AS (
             |  SELECT doc_id, lang, text, CAST(n_chars AS BIGINT) AS len,
             |    NULL AS note
             |  FROM documents WHERE doc_id % 2 = 0
             |  UNION ALL
             |  SELECT doc_id, lang, text, n_chars, 'n' || doc_id
             |  FROM documents WHERE doc_id % 2 = 1),
             |src AS (
             |  SELECT doc_id, lang, upper(text) AS text,
             |    CAST(n_chars AS BIGINT) AS len
             |  FROM documents WHERE doc_id % 3 = 0),
             |cls AS (
             |  SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
             |    coalesce(t.lang, s.lang) AS lang,
             |    t.text AS t_text, s.text AS s_text,
             |    t.len AS t_len, s.len AS s_len, t.note AS note,
             |    CASE
             |      WHEN t.doc_id IS NOT NULL AND s.doc_id IS NOT NULL THEN
             |        CASE WHEN s.doc_id % 5 = 0 THEN 'D' ELSE 'U' END
             |      WHEN s.doc_id IS NOT NULL THEN
             |        CASE WHEN s.len > 100 THEN 'I' ELSE 'X' END
             |      ELSE 'K' END AS action
             |  FROM tgt t FULL OUTER JOIN src s
             |    ON t.lang = s.lang AND t.doc_id = s.doc_id),
             |fin AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN action IN ('U', 'I') THEN s_text ELSE t_text END AS text,
             |    CASE WHEN action IN ('U', 'I') THEN s_len ELSE t_len END AS len,
             |    CASE WHEN action = 'I' THEN 'm' || doc_id ELSE note END AS note
             |  FROM cls WHERE action IN ('K', 'U', 'I'))
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(len) AS BIGINT) AS sum_len,
             |  count(note) AS n_notes,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // IN-PLACE ADOPTION (round 17, Delta's CONVERT TO DELTA idiom): a
    // PLAIN hive-partitioned parquet tree — written by a vanilla
    // df.write.partitionBy, no manifest anywhere — becomes a manifest
    // table in one metadata commit with a BYTE-IDENTICAL file set
    // (required in-line: zero data movement), and the full engine then
    // runs on it: DELETE rewrites only matched files, time travel
    // serves the adopted snapshot, ANALYZE backfills stats. The final
    // state, the pre-delete snapshot, and the change feed hash-match
    // DuckDB replaying the same content relationally; a second adopt
    // refuses (required in-line).
    Q(
      "q137_adopt_in_place",
      (s, dir) => {
        val out = scratchDir("graft-gate-adopt") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        docs.write.partitionBy("lang").parquet(out)                      // PLAIN
        val (fs, root) = ManifestLake.fsFor(s, out)
        def liveSet(): Set[(String, Long)] = {
          val b = Set.newBuilder[(String, Long)]
          val it = fs.listFiles(root, true)
          while (it.hasNext) {
            val st = it.next()
            val p = st.getPath.toString
            if (p.endsWith(".parquet") && !p.contains("/_") &&
              !p.contains("/data/")) b += ((p, st.getLen))
          }
          b.result()
        }
        val before = liveSet()
        val v1 = ManifestLake.adopt(s, out, statsCols = Seq("doc_id"))   // v1
        require(v1 == 1L && liveSet() == before,
          "q137 gate: adoption must move, add, or rewrite ZERO data files")
        require(ManifestLake.readManifest(fs, root, 1L).files.size == before.size,
          "q137 gate: the manifest must list exactly the adopted files")
        val e = try { ManifestLake.adopt(s, out); None }
        catch { case ex: IllegalArgumentException => Some(ex) }
        require(e.exists(_.getMessage.contains("already a manifest table")),
          "q137 gate: a second adopt must refuse")
        ManifestLake.analyzeStats(s, out)                                // v2
        s.sql(s"DELETE FROM `graft-manifest`.`$out` WHERE doc_id % 7 = 0") // v3
        val cols = Seq(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        val live = ManifestLake.read(s, out)
          .select(lit("live").as("leg") +: cols: _*)
        val snap = ManifestLake.readVersion(s, out, 1L)
          .select(lit("adopted").as("leg") +: cols: _*)
        val feed = ManifestLake.readChangeFeed(s, out, fromV = 2L, toV = 3L)
          .select(col("_change_type").as("leg") +: cols: _*)
        live.unionByName(snap).unionByName(feed)
          .groupBy(col("leg"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("content_sum"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("leg"), col("lang"))
      },
      Some("""WITH legs AS (
             |  SELECT 'adopted' AS leg, lang, doc_id, text, n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT 'live', lang, doc_id, text, n_chars
             |  FROM documents WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT 'delete', lang, doc_id, text, n_chars
             |  FROM documents WHERE doc_id % 7 = 0)
             |SELECT leg, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM legs GROUP BY leg, lang ORDER BY leg, lang""".stripMargin)),

    // LIVE TABLE PROPERTIES (round 17): a table created WITHOUT any
    // stats declaration becomes skippable through pure SQL — SET
    // TBLPROPERTIES flips the sticky fact, ANALYZE backfills existing
    // files, and a point lookup then scans STRICTLY FEWER files
    // (required in-line, AQE off for exact scan metrics); UNSET stops
    // future collection without touching recorded stats. Content is
    // hash-matched against DuckDB throughout — the skipping ladder can
    // never change results.
    Q(
      "q139_sql_tblproperties",
      (s, dir) => {
        val out = scratchDir("graft-gate-props") + "/table"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
          .repartitionByRange(8, col("doc_id")) // clustered: skipping CAN bite
        ManifestLake.write(s, docs, out, Seq("lang"))                    // v1, NO stats
        val t = s"`graft-manifest`.`$out`"
        def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
          df.collect()
          def walk(p: org.apache.spark.sql.execution.SparkPlan)
              : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = (p match {
            case sc: org.apache.spark.sql.execution.FileSourceScanExec => Seq(sc)
            case _ => Seq.empty
          }) ++ (p.children ++ p.subqueries).flatMap(walk)
          walk(df.queryExecution.executedPlan)
            .map(_.metrics("numFiles").value).sum
        }
        val probeId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        try {
          val before = scanFiles(
            ManifestLake.read(s, out).where(col("doc_id") === probeId))
          s.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.statsCols' = 'doc_id')")
          s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
          val after = scanFiles(
            ManifestLake.read(s, out).where(col("doc_id") === probeId))
          require(after < before,
            s"q139 gate: skipping must engage after SET + ANALYZE " +
              s"($after vs $before files)")
        } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
        val props = s.sql(s"SHOW TBLPROPERTIES $t").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        require(props.get("graft.statsCols").contains("doc_id"),
          "q139 gate: SHOW TBLPROPERTIES must surface the live fact")
        s.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.statsCols')")
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM $t GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum,
             |  max(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // COLUMN DEFAULT VALUES (round 18): CREATE declares literal
    // DEFAULTs; an INSERT column list OMITTING the column materializes
    // them; ALTER COLUMN SET DEFAULT changes only statements AFTER it
    // (existing rows untouched — leg 0 keeps the create-time values);
    // MERGE's NOT MATCHED INSERT fills them; DROP DEFAULT reverts to
    // the NULL fill. Four legs keyed by doc_id % 4, replayed
    // relationally in DuckDB. Non-literal and type-incompatible
    // defaults refuse IN-LINE with the table's defaults unchanged, and
    // SHOW CREATE must render the live default.
    Q(
      "q140_column_defaults",
      (s, dir) => {
        val out = scratchDir("graft-gate-defaults") + "/table"
        val t = s"`graft-manifest`.`$out`"
        s.sql(s"CREATE TABLE $t (lang STRING, doc_id BIGINT, " +
          "n_chars BIGINT, quality STRING DEFAULT 'unscored', " +
          "rev BIGINT DEFAULT 0) USING `graft-manifest` PARTITIONED BY (lang)")
        graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars").cast("long"))
          .createOrReplaceTempView("q140_docs")
        def insertLeg(k: Int): Unit = s.sql(
          s"INSERT INTO $t (lang, doc_id, n_chars) " +
            s"SELECT lang, doc_id, n_chars FROM q140_docs WHERE doc_id % 4 = $k"): Unit
        insertLeg(0) // create-time defaults: 'unscored' / 0
        def refuses(sql: String, needle: String): Unit = {
          val msg = try { s.sql(sql); "" } catch {
            case e: Exception =>
              Option(e.getMessage).getOrElse("") +
                Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
          }
          require(msg.toLowerCase.contains(needle.toLowerCase),
            s"q140 gate: expected a refusal mentioning '$needle' for: $sql " +
              s"(got: ${msg.take(200)})")
        }
        refuses(s"ALTER TABLE $t ALTER COLUMN quality SET DEFAULT current_date()",
          "literal")
        refuses(s"ALTER TABLE $t ALTER COLUMN rev SET DEFAULT 'abc'", "rev")
        s.sql(s"ALTER TABLE $t ALTER COLUMN quality SET DEFAULT 'pending'")
        s.sql(s"ALTER TABLE $t ALTER COLUMN rev SET DEFAULT 7")
        insertLeg(1) // post-SET statements see 'pending' / 7
        s.sql("SELECT lang, doc_id, n_chars FROM q140_docs WHERE doc_id % 4 = 2")
          .createOrReplaceTempView("q140_src")
        s.sql(s"""MERGE INTO $t t USING q140_src s
                 |ON t.lang = s.lang AND t.doc_id = s.doc_id
                 |WHEN NOT MATCHED THEN
                 |  INSERT (lang, doc_id, n_chars) VALUES (s.lang, s.doc_id, s.n_chars)
                 |""".stripMargin)
        val ddl = s.sql(s"SHOW CREATE TABLE $t").head().getString(0)
        require(ddl.contains("DEFAULT 'pending'") && ddl.contains("DEFAULT 7"),
          s"q140 gate: SHOW CREATE must render the live defaults, got: $ddl")
        s.sql(s"ALTER TABLE $t ALTER COLUMN rev DROP DEFAULT")
        insertLeg(3) // rev reverts to the NULL fill; quality keeps 'pending'
        require(!s.sql(s"SHOW CREATE TABLE $t").head().getString(0)
          .contains("rev` BIGINT DEFAULT"),
          "q140 gate: a dropped DEFAULT must leave SHOW CREATE")
        s.sql(s"""SELECT quality, rev, count(*) AS n_docs,
                 |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 |  max(doc_id) AS max_id
                 |FROM $t GROUP BY quality, rev
                 |ORDER BY quality, rev""".stripMargin)
      },
      Some("""WITH legs AS (
             |  SELECT doc_id, n_chars,
             |    CASE WHEN doc_id % 4 = 0 THEN 'unscored' ELSE 'pending' END AS quality,
             |    CASE WHEN doc_id % 4 = 0 THEN 0
             |         WHEN doc_id % 4 = 3 THEN NULL ELSE 7 END AS rev
             |  FROM documents)
             |SELECT quality, CAST(rev AS BIGINT) AS rev, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS max_id
             |FROM legs GROUP BY quality, rev
             |ORDER BY quality, rev""".stripMargin)),

    // SHALLOW CLONE (round 18): one metadata commit whose entries
    // REFERENCE the source's files by absolute path — zero data
    // movement REQUIRED IN-LINE (byte-identical source file set; no
    // data files under the clone root until its own DML). The clone
    // pins VERSION AS OF 1 (pre-delete), then DML diverges both sides
    // independently, and an aggressive VACUUM on the clone must never
    // touch a source file (the engine never deletes what it did not
    // write). Both tables replay relationally in DuckDB.
    Q(
      "q141_shallow_clone",
      (s, dir) => {
        val src = scratchDir("graft-gate-clone-src") + "/table"
        val tgt = scratchDir("graft-gate-clone-tgt") + "/table"
        val ts = s"`graft-manifest`.`$src`"
        val tt = s"`graft-manifest`.`$tgt`"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars").cast("long"))
        ManifestLake.write(s, docs, src, Seq("lang"))               // v1
        s.sql(s"DELETE FROM $ts WHERE doc_id % 5 = 0")              // v2
        def srcDataFiles(): Set[(String, Long, Long)] = {
          val (fs, root) = ManifestLake.fsFor(s, src)
          val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
          val b = Set.newBuilder[(String, Long, Long)]
          while (it.hasNext) {
            val st = it.next()
            if (st.getPath.getName.endsWith(".parquet"))
              b += ((st.getPath.toString, st.getModificationTime, st.getLen))
          }
          b.result()
        }
        val before = srcDataFiles()
        val row = s.sql(s"CREATE TABLE $tt SHALLOW CLONE $ts VERSION AS OF 1")
          .head()
        require(row.getLong(0) == 1L && row.getLong(1) > 0,
          s"q141 gate: clone must publish v1 referencing files, got $row")
        // zero-copy: the clone root holds NO data files, and the source
        // tree is byte-identical
        val (tfs, troot) = ManifestLake.fsFor(s, tgt)
        require(!tfs.exists(new org.apache.hadoop.fs.Path(troot, "data")),
          "q141 gate: a shallow clone must copy NOTHING")
        require(srcDataFiles() == before,
          "q141 gate: cloning must not touch the source files")
        // the clone sees the PRE-delete state (VERSION AS OF 1)
        val nAll = docs.count()
        require(s.sql(s"SELECT count(*) FROM $tt").head().getLong(0) == nAll,
          "q141 gate: clone at v1 must serve the pre-delete row set")
        // diverge independently: clone-side DELETE (new files land
        // under the CLONE root only), source-side INSERT
        s.sql(s"DELETE FROM $tt WHERE doc_id % 3 = 0")
        s.sql(s"INSERT INTO $ts SELECT lang, doc_id + 1000000, n_chars " +
          s"FROM $tt WHERE doc_id % 7 = 0")
        // aggressive clone-side vacuum: reaps its own superseded stage
        // dirs only — the source tree stays byte-identical even though
        // the clone's history no longer references every source file
        s.sql(s"VACUUM $tt KEEP 1 VERSIONS"): Unit
        // subset, not equality: the source-side INSERT above added its
        // own new files — the invariant is that every pre-clone source
        // file is still there, byte-identical
        require(before.subsetOf(srcDataFiles()),
          "q141 gate: the clone's VACUUM must never delete source files " +
            "(the engine never deletes what it did not write)")
        s.sql(
          s"""SELECT leg, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS max_id
             |FROM (SELECT 'src' AS leg, * FROM $ts
             |      UNION ALL SELECT 'clone', * FROM $tt)
             |GROUP BY leg, lang ORDER BY leg, lang""".stripMargin)
      },
      Some("""WITH legs AS (
             |  SELECT 'src' AS leg, lang, doc_id, n_chars
             |  FROM documents WHERE doc_id % 5 <> 0
             |  UNION ALL
             |  SELECT 'src', lang, doc_id + 1000000, n_chars
             |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0
             |  UNION ALL
             |  SELECT 'clone', lang, doc_id, n_chars
             |  FROM documents WHERE doc_id % 3 <> 0)
             |SELECT leg, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(doc_id) AS max_id
             |FROM legs GROUP BY leg, lang ORDER BY leg, lang""".stripMargin)),

    // IDENTITY COLUMNS (round 18): GENERATED ALWAYS AS IDENTITY as a
    // manifest header fact — the engine assigns unique BIGINT values on
    // the (start, step) lattice, gaps expected, and CONCURRENT appends
    // receive DISJOINT ranges (a loser whose watermark moved withdraws
    // and restages — raced live in-line here). Uniqueness and lattice
    // membership are encoded INTO the compared values (n_ids = n_docs,
    // lane_ok = true), so the DuckDB hash-match certifies them; the
    // values themselves are assignment-order-dependent by design and
    // never compared.
    Q(
      "q142_identity_column",
      (s, dir) => {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        val out = scratchDir("graft-gate-identity") + "/table"
        val t = s"`graft-manifest`.`$out`"
        s.sql(s"CREATE TABLE $t (lang STRING, " +
          "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 3), " +
          "doc_id BIGINT, n_chars BIGINT) USING `graft-manifest` " +
          "PARTITIONED BY (lang)")
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars").cast("long"))
          .persist()
        docs.count(): Unit
        // two RACING appends (one per doc_id parity) — both must land,
        // with the loser restaging from the winner's watermark
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val legs = Seq(0, 1).map(parity => Future {
          barrier.await()
          ManifestLake.write(s,
            docs.where(pmod(col("doc_id"), lit(2)) === parity), out,
            Seq("lang"), replace = false)
        })
        Await.result(Future.sequence(legs), 300.seconds): Unit
        docs.unpersist()
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |  count(DISTINCT id) AS n_ids,
             |  every(id >= 100 AND (id - 100) % 3 = 0) AS lane_ok,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  max(doc_id) AS max_doc
             |FROM $t GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  count(*) AS n_ids,
             |  true AS lane_ok,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  max(doc_id) AS max_doc
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // NESTED-FIELD DROP + RE-ADD at depth 2 (round 17): the genomic-
    // evidence shape drops `entries.ev.q` (metadata-only — byte-
    // identical file set REQUIRED IN-LINE), then re-adds the SAME
    // logical name at a WIDER type; the fresh-physical-field
    // indirection is required in-line and the re-added field must
    // serve NULL for every pre-add row (dropped data can never
    // resurrect) while the sibling `w` keeps serving the old files'
    // values and time travel to v1 still serves the ORIGINAL q.
    // DuckDB replays both legs relationally.
    Q(
      "q138_nested_drop",
      (s, dir) => {
        val out = scratchDir("graft-gate-nesteddrop") + "/table"
        val docs = graft.Tables.documents(s, dir)
        val nested = docs.select(col("lang"), col("doc_id"),
          array(struct(col("doc_id").as("did"),
            array(struct(
              pmod(col("n_chars"), lit(128L)).cast("int").as("q"),
              col("n_chars").cast("long").as("w"))).as("ev"))).as("entries"))
        ManifestLake.write(s, nested, out, Seq("lang"))                  // v1
        val (fs, root) = ManifestLake.fsFor(s, out)
        val files1 = ManifestLake.readManifest(fs, root, 1L).files
          .map(f => (f.path, f.bytes)).toSet
        require(ManifestLake.dropColumn(s, out, "entries.ev.q") == 2L)   // v2
        require(s.sql(s"ALTER TABLE `graft-manifest`.`$out` ADD COLUMNS " +
          "(entries.ev.q BIGINT)").collect().head.getLong(0) == 3L)      // v3
        val m3 = ManifestLake.readManifest(fs, root, 3L)
        require(m3.files.map(f => (f.path, f.bytes)).toSet == files1,
          "q138 gate: nested drop + re-add must move ZERO data files")
        require(m3.fieldMap.exists { case (c, l, pp) =>
          c == "entries" && l == "ev.q" && pp != "ev.q" },
          "q138 gate: the re-added name must map to a FRESH physical field")
        require(m3.fieldDropped.contains(("entries", "ev.q")),
          "q138 gate: the dropped physical path must be retired")
        val r = ManifestLake.read(s, out)
        require(r.schema("entries").dataType.catalogString ==
          "array<struct<did:bigint,ev:array<struct<w:bigint,q:bigint>>>>",
          s"q138 gate: logical shape must carry the re-added field at the " +
            s"wider type, got ${r.schema("entries").dataType.catalogString}")
        def leg(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.select(lit(tag).as("leg"), col("lang"), col("doc_id"),
            expr("entries[0].ev[0].q").cast("long").as("q"),
            expr("entries[0].ev[0].w").cast("long").as("w"))
        leg(r, "live").unionByName(
            leg(ManifestLake.readVersion(s, out, 1L), "v1"))
          .groupBy(col("leg"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("q"), lit(-1L))).cast("long").as("sum_q"),
            sum(col("w")).cast("long").as("sum_w"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("leg"), col("lang"))
      },
      Some("""WITH legs AS (
             |  SELECT 'live' AS leg, lang, doc_id,
             |    CAST(NULL AS BIGINT) AS q, CAST(n_chars AS BIGINT) AS w
             |  FROM documents
             |  UNION ALL
             |  SELECT 'v1', lang, doc_id,
             |    CAST(n_chars % 128 AS BIGINT), CAST(n_chars AS BIGINT)
             |  FROM documents)
             |SELECT leg, lang, count(*) AS n_docs,
             |  CAST(sum(coalesce(q, -1)) AS BIGINT) AS sum_q,
             |  CAST(sum(w) AS BIGINT) AS sum_w,
             |  max(doc_id) AS max_id
             |FROM legs GROUP BY leg, lang ORDER BY leg, lang""".stripMargin)),

    // COPY INTO (round 19): idempotent batch file ingestion — the
    // third Delta ingestion idiom. Land 3 files → COPY → land 2 more →
    // COPY (loads ONLY the new files — row counts required in-line) →
    // re-run COPY (no-op REQUIRED IN-LINE: zero files, zero rows, ZERO
    // new versions). The table then replays relationally in DuckDB
    // against the same slices the landings carried.
    Q(
      "q143_copy_into",
      (s, dir) => {
        val src = scratchDir("graft-gate-copy-src")
        val out = scratchDir("graft-gate-copy-tgt") + "/table"
        val t = s"`graft-manifest`.`$out`"
        s.sql(s"CREATE TABLE $t (lang STRING, doc_id BIGINT, n_chars BIGINT) " +
          "USING `graft-manifest` PARTITIONED BY (lang)")
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars").cast("long"))
        def land(sub: String, k: Int): Long = {
          val slice = docs.where(pmod(col("doc_id"), lit(3)) === k)
          slice.coalesce(1).write.parquet(s"$src/$sub")
          slice.count()
        }
        val nA = land("batch1", 0)
        val r1 = s.sql(s"COPY INTO $t FROM '$src' FILEFORMAT = PARQUET").head()
        require(r1.getLong(2) == nA,
          s"q143 gate: first COPY must load the landed rows ($r1 vs $nA)")
        val nB = land("batch2", 1)
        val r2 = s.sql(s"COPY INTO $t FROM '$src' FILEFORMAT = PARQUET").head()
        require(r2.getLong(2) == nB,
          s"q143 gate: second COPY must load ONLY the new files ($r2 vs $nB)")
        val vAfter = ManifestLake.currentVersion(s, out).get
        val r3 = s.sql(s"COPY INTO $t FROM '$src' FILEFORMAT = PARQUET").head()
        require(r3.getLong(0) == vAfter && r3.getLong(1) == 0L &&
          r3.getLong(2) == 0L &&
          ManifestLake.currentVersion(s, out).contains(vAfter),
          s"q143 gate: a re-run COPY must be a no-op with ZERO new versions " +
            s"(got $r3, head ${ManifestLake.currentVersion(s, out)})")
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 |  max(doc_id) AS max_id
                 |FROM $t GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  max(doc_id) AS max_id
             |FROM documents WHERE doc_id % 3 < 2
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // GENERATED BY DEFAULT AS IDENTITY + declare-on-nonempty (round
    // 19): a table with EXISTING keys adopts the contract (the
    // migration shape — the watermark seeds from the existing column's
    // max via the stats machinery), then mixed explicit/omitted
    // inserts: omitted rows engine-assign on the start/step lattice
    // ABOVE everything already in the table; explicit rows pass
    // through unchanged and push the watermark, so later omitted rows
    // clear them too. Uniqueness, lattice membership, and watermark
    // monotonicity are encoded INTO the compared values (n_ids,
    // lane_ok, above_ok); the deterministic legs (seed, explicit)
    // compare their id sums directly.
    Q(
      "q144_identity_by_default",
      (s, dir) => {
        val out = scratchDir("graft-gate-identdef") + "/table"
        val t = s"`graft-manifest`.`$out`"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars").cast("long"))
        // seed: a migrated table with existing keys (id = doc_id*10)
        ManifestLake.write(s,
          docs.where(pmod(col("doc_id"), lit(4)) === 0)
            .withColumn("id", col("doc_id") * 10)
            .withColumn("leg", lit("seed"))
            .select(col("lang"), col("doc_id"), col("id"), col("n_chars"),
              col("leg")),
          out, Seq("lang"))
        ManifestLake.declareIdentity(s, out, "id", start = 1L, step = 7L,
          byDefault = true)
        docs.createOrReplaceTempView("q144_docs")
        def insertLeg(k: Int, leg: String, idSql: Option[String]): Unit = s.sql(
          s"INSERT INTO $t (lang, doc_id, ${idSql.map(_ => "id, ").getOrElse("")}" +
            s"n_chars, leg) SELECT lang, doc_id, " +
            s"${idSql.map(e => s"$e, ").getOrElse("")}n_chars, '$leg' " +
            s"FROM q144_docs WHERE doc_id % 4 = $k"): Unit
        insertLeg(1, "omit1", None)                       // engine-assigned
        insertLeg(2, "explicit", Some("doc_id + 900000000")) // supplied
        insertLeg(3, "omit2", None)    // engine must clear the supplied ids
        // global uniqueness across ALL legs, required in-line
        val (n, nd) = {
          val r = s.sql(s"SELECT count(id), count(DISTINCT id) FROM $t").head()
          (r.getLong(0), r.getLong(1))
        }
        require(n == nd, s"q144 gate: ids must be globally unique ($nd/$n)")
        // the multipart spelling is not servable inside nested scalar
        // subqueries — give the final SELECT a plain view
        ManifestLake.read(s, out).createOrReplaceTempView("q144_t")
        s.sql(
          """SELECT leg, lang, count(*) AS n_docs,
             |  count(DISTINCT id) AS n_ids,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CASE WHEN leg IN ('seed', 'explicit')
             |       THEN CAST(sum(id) AS BIGINT) ELSE CAST(-1 AS BIGINT)
             |  END AS id_sum,
             |  every(CASE WHEN leg IN ('omit1', 'omit2')
             |             THEN (id - 1) % 7 = 0 ELSE true END) AS lane_ok,
             |  every(CASE
             |    WHEN leg = 'omit1' THEN
             |      id > (SELECT max(id) FROM q144_t WHERE leg = 'seed')
             |    WHEN leg = 'omit2' THEN
             |      id > (SELECT max(id) FROM q144_t WHERE leg <> 'omit2')
             |    ELSE true END) AS above_ok
             |FROM q144_t GROUP BY leg, lang ORDER BY leg, lang""".stripMargin)
      },
      Some("""WITH legs AS (
             |  SELECT 'seed' AS leg, lang, doc_id, doc_id*10 AS id, n_chars
             |  FROM documents WHERE doc_id % 4 = 0
             |  UNION ALL
             |  SELECT 'omit1', lang, doc_id, NULL, n_chars
             |  FROM documents WHERE doc_id % 4 = 1
             |  UNION ALL
             |  SELECT 'explicit', lang, doc_id, doc_id + 900000000, n_chars
             |  FROM documents WHERE doc_id % 4 = 2
             |  UNION ALL
             |  SELECT 'omit2', lang, doc_id, NULL, n_chars
             |  FROM documents WHERE doc_id % 4 = 3)
             |SELECT leg, lang, count(*) AS n_docs, count(*) AS n_ids,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CASE WHEN leg IN ('seed', 'explicit')
             |       THEN CAST(sum(id) AS BIGINT) ELSE CAST(-1 AS BIGINT)
             |  END AS id_sum,
             |  true AS lane_ok, true AS above_ok
             |FROM legs GROUP BY leg, lang ORDER BY leg, lang""".stripMargin)),

    // DEEP CLONE (round 19): the clone COPIES every referenced file
    // (incl. DV sidecars) into its own tree — proven in-line by
    // destroying the source wholesale and requiring the clone to serve
    // the pinned pre-delete content byte-for-byte (hash-matched vs
    // DuckDB recomputing the DV-masked row set), with zero external
    // references left anywhere in the clone's manifest.
    Q(
      "q145_deep_clone",
      (s, dir) => {
        val src = scratchDir("graft-gate-dclone-src") + "/table"
        val tgt = scratchDir("graft-gate-dclone-tgt") + "/table"
        val ts = s"`graft-manifest`.`$src`"
        val tt = s"`graft-manifest`.`$tgt`"
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars").cast("long"))
        ManifestLake.write(s, docs, src, Seq("lang"))                 // v1
        // a DV-masked source: the clone must carry the mask bytes, not
        // re-derive them
        ManifestLake.delete(s, src, pmod(col("doc_id"), lit(5L)) === 0,
          deletionVectors = true)                                     // v2
        val row = s.sql(s"CREATE TABLE $tt DEEP CLONE $ts").head()
        require(row.getLong(0) == 1L && row.getLong(1) > 0,
          s"q145 gate: deep clone must publish v1 with files, got $row")
        // every reference is clone-owned: no absolute paths anywhere
        val (tfs, troot) = ManifestLake.fsFor(s, tgt)
        ManifestLake.readManifest(tfs, troot, 1L).files.foreach { f =>
          (Seq(f.path) ++ f.dv ++ f.bloom).foreach(p => require(
            !new org.apache.hadoop.fs.Path(p).isAbsolute && !p.contains(":/"),
            s"q145 gate: deep clone must own every reference, got $p"))
        }
        // destroy the source wholesale — the deep clone must not notice
        val (sfs, sroot) = ManifestLake.fsFor(s, src)
        require(sfs.delete(sroot, true), "q145 gate: source delete failed")
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8),
             |    16, 10) AS BIGINT)) AS BIGINT) AS id_hash,
             |  max(doc_id) AS max_id
             |FROM $tt GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
             |    AS BIGINT) AS id_hash,
             |  max(doc_id) AS max_id
             |FROM documents WHERE doc_id % 5 <> 0
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Write-time bin packing (round 20): a table opted into
    // graft.autoCompact packs its small files as follow-on commits —
    // no one ever runs OPTIMIZE. Six tiny appends per partition;
    // in-line requires: every partition ends at <= 2 files (vs 6
    // appended), at least one compact op in the ledger — then the
    // content replays relationally in DuckDB (the pack moved bytes,
    // never rows).
    Q(
      "q146_auto_compact",
      (s, dir) => {
        val out = scratchDir("graft-gate-autocompact") + "/table"
        val t = s"`graft-manifest`.`$out`"
        s.sql(s"CREATE TABLE $t (lang STRING, doc_id BIGINT, n_chars BIGINT) " +
          "USING `graft-manifest` PARTITIONED BY (lang) " +
          "TBLPROPERTIES ('graft.autoCompact.targetFileBytes' = '1048576', " +
          "'graft.autoCompact.minNumFiles' = '4')")
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars").cast("long"))
        (0 until 6).foreach { k =>
          ManifestLake.write(s,
            docs.where(pmod(col("doc_id"), lit(6)) === k).coalesce(1),
            out, Seq("lang"), replace = false)
        }
        val (fs, root) = ManifestLake.fsFor(s, out)
        val head = ManifestLake.currentVersion(s, out).get
        val m = ManifestLake.readManifest(fs, root, head)
        val perPart = m.files
          .groupBy(_.path.split("/").find(_.startsWith("lang=")).getOrElse(""))
          .map { case (d, fls) => d -> fls.length }
        // the 4th append crosses minNumFiles=4 and packs each partition
        // to one file; appends 5-6 then sit at 3 (packed + 2 new) —
        // below the re-fire threshold, exactly the bounded-write-
        // amplification contract
        require(perPart.values.forall(_ <= 3),
          s"q146 gate: 6 tiny appends per partition must auto-pack to <= 3 " +
            s"files, got $perPart")
        val ops = (1L to head).map(v =>
          ManifestLake.readManifest(fs, root, v).op.getOrElse(""))
        require(ops.contains("compact"),
          s"q146 gate: the ledger must show the follow-on compact commit(s): $ops")
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 |  max(doc_id) AS max_id
                 |FROM $t GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  max(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Generated-partition RANGE inference (round 20): the canonical
    // 100 TB event-table layout — `day GENERATED AS (CAST(ts AS
    // DATE))`, queried by a half-open ts range. The executed scan's
    // numFiles must equal EXACTLY the spanned days' manifest entries
    // (plan-shape pin in-line), and the rows replay relationally in
    // DuckDB computing the same ts arithmetic.
    Q(
      "q147_genpart_range",
      (s, dir) => {
        val out = scratchDir("graft-gate-genrange") + "/table"
        val t = s"`graft-manifest`.`$out`"
        s.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, ts TIMESTAMP, " +
          "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
          "USING `graft-manifest` PARTITIONED BY (day)")
        graft.Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            expr("timestampadd(HOUR, CAST(doc_id % 240 AS INT), " +
              "TIMESTAMP '2024-01-01 00:00:00')").as("ts"))
          .createOrReplaceTempView("q147_src")
        s.sql(s"INSERT INTO $t (doc_id, lang, ts) SELECT * FROM q147_src")
        val q = s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_id
             |FROM $t
             |WHERE ts >= TIMESTAMP '2024-01-04 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-06 00:00:00'
             |GROUP BY lang ORDER BY lang""".stripMargin)
        q.collect()
        // AQE wraps the final plan, and finalized QUERY STAGES are
        // leaf nodes whose real subtree hangs off `.plan` — descend
        // through both or the scan is invisible to collect()
        def scanOf(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
          p.collect {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              scanOf(a.executedPlan)
            case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              scanOf(st.plan)
            case sc: org.apache.spark.sql.execution.FileSourceScanExec => Seq(sc)
          }.flatten
        val read = scanOf(q.queryExecution.executedPlan)
          .head.metrics("numFiles").value
        val (fs, root) = ManifestLake.fsFor(s, out)
        val m = ManifestLake.readManifest(fs, root,
          ManifestLake.currentVersion(s, out).get)
        val expectFiles = m.files.count(f =>
          f.path.contains("/day=2024-01-04/") ||
            f.path.contains("/day=2024-01-05/"))
        require(expectFiles > 0 && read == expectFiles,
          s"q147 gate: the ts range must prune to exactly days 04+05 " +
            s"($read files read, $expectFiles expected of ${m.files.length})")
        q
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_id
             |FROM (SELECT doc_id, lang,
             |        TIMESTAMP '2024-01-01 00:00:00' +
             |          (doc_id % 240) * INTERVAL 1 HOUR AS ts
             |      FROM documents)
             |WHERE ts >= TIMESTAMP '2024-01-04 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-06 00:00:00'
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // COPY INTO schema hint + VALIDATE (round 20): CSV ingestion with
    // a DECLARED read schema (one pass — inference would be a second
    // full pass over a 100 TB source, and here would DESTROY the
    // zero-padded codes by typing them numeric), preceded by a
    // VALIDATE dry run that reports the would-load files and commits
    // nothing (required in-line). The zero padding surviving into
    // min/max proves the hint was honored.
    Q(
      "q148_copy_schema_hint",
      (s, dir) => {
        val src = scratchDir("graft-gate-copyhint")
        val out = scratchDir("graft-gate-copyhint-tgt") + "/table"
        val t = s"`graft-manifest`.`$out`"
        s.sql(s"CREATE TABLE $t (lang STRING, doc_id BIGINT, code STRING) " +
          "USING `graft-manifest`")
        val docs = graft.Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"),
            lpad(col("doc_id").cast("string"), 8, "0").as("code"))
        docs.coalesce(1).write.option("header", "true").csv(s"$src/batch1")
        val v0 = ManifestLake.currentVersion(s, out).get
        val copySql = s"COPY INTO $t FROM '$src' FILEFORMAT = CSV " +
          "FORMAT_OPTIONS ('header' = 'true', " +
          "'schema' = 'lang STRING, doc_id BIGINT, code STRING')"
        val dry = s.sql(copySql + " VALIDATE").head()
        require(dry.getLong(0) == v0 && dry.getLong(1) >= 1 &&
          dry.getLong(2) == 0L &&
          ManifestLake.currentVersion(s, out).contains(v0),
          s"q148 gate: VALIDATE must report the load and commit nothing " +
            s"(got $dry, head ${ManifestLake.currentVersion(s, out)})")
        val real = s.sql(copySql).head()
        require(real.getLong(2) == docs.count(),
          s"q148 gate: the real COPY must load every landed row ($real)")
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  min(code) AS min_code, max(code) AS max_code
                 |FROM $t GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  min(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS min_code,
             |  max(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS max_code
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)))
}
