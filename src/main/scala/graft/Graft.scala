package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's front door: a compiled catalog mapping TASK -> operator
  * entry point -> the oracle gate that certifies it. The library spans
  * ~40 public operator entry points across seven packages; this object
  * is the single discoverable surface — find the task, follow the
  * entry point, trust it exactly as far as its gate (gate names are
  * `SparkEntry.queries` keys, hash-checked against DuckDB by
  * `graft.Verify` + `scripts/check.py`; "spec" marks operators whose
  * semantics an SQL oracle cannot express — streaming, wall-clock
  * stamps — which are pinned by ScalaTest instead).
  *
  * `README.md`'s operator table is GENERATED from this catalog
  * (`runMain graft.Graft` prints it) — the docs cannot drift from the
  * code without the diff showing it.
  */
object Graft {

  final case class Op(area: String, task: String, entryPoint: String, gate: String)

  val catalog: Seq[Op] = Seq(
    // --- reference-parity ETL ---
    Op("etl", "VCF->annotated-lake pipeline (reference 8-arg CLI)", "graft.etl.Main", "q40-q43"),
    Op("etl", "VCF read: glob, gzip, header filter, provenance", "graft.etl.Vcf.raw", "q40, q18"),
    Op("etl", "annotation joins: impact/dbSNP/gnomAD/alpha", "graft.etl.Annotations", "q41, q42"),
    Op("etl", "position-bucketed partitioned lake write", "graft.etl.Lake.build/write", "q41, q42"),
    Op("etl", "ingest-status JSON append", "graft.etl.Lake.writeStatus", "q43"),
    // --- lake maintenance ---
    Op("lake", "manifest-committed table: versioned write/read/time travel/restore, txn ledger, file-skipping stats ([min,max], null counts, distinct-value sets)", "graft.etl.ManifestLake.write/read/readVersion/versions/restore/lastCommitted", "q88, q92, q101"),
    Op("lake", "manifest upsert (untouched partitions carried by reference; PARTITION-DISJOINT upserts race optimistically)", "graft.etl.ManifestLake.upsert", "q76, q89"),
    Op("lake", "row-level DELETE: match-bearing-file rewrite, NULL-keep semantics, METADATA-ONLY partition drops", "graft.etl.ManifestLake.delete", "q100"),
    Op("lake", "optimistic concurrent appends (unique staging; losers re-publish by reference)", "graft.etl.ManifestLake.write(replace=false) under race", "q99"),
    Op("lake", "manifest compact + zero-RPC inventory + vacuum + maintain; compaction loses append races gracefully", "graft.etl.ManifestLake.compact/inventory/vacuum/maintain", "q75, q88, q96"),
    Op("lake", "graft-manifest data source: format()/SQL temp views/writer API, versionAsOf/timestampAsOf", "spark.read.format(\"graft-manifest\") via graft.etl.ManifestDataSource", "q95"),
    Op("lake", "z-order (Morton) clustering: file skipping on MULTIPLE columns at once", "graft.ops.ZOrder.cluster/zvalue, graft.etl.ManifestLake.compact(zOrderBy)", "q96"),
    Op("lake", "append-only change feed between versions (incremental consumers)", "graft.etl.ManifestLake.readChanges", "q97"),
    Op("lake", "ROW-LEVEL change feed: exact insert/pre/post-image/delete rows per commit (opt-out via changeFeed=false)", "graft.etl.ManifestLake.readChangeFeed", "q98, q100"),
    Op("lake", "conditional MERGE INTO: whenMatched update/delete + whenNotMatched insert with per-clause conditions (t./s. aliases), exact per-clause CDC", "graft.etl.ManifestLake.merge", "q108"),
    Op("lake", "row-level UPDATE: condition + SET with pre-update-row semantics, match-bearing-file-only rewrite, exact pre/post images", "graft.etl.ManifestLake.update", "q110"),
    Op("lake", "DELETION VECTORS: row deletes as (file, row_index) sidecar masks — zero rewrite; compaction materializes and clears", "graft.etl.ManifestLake.delete(deletionVectors = true)", "q109"),
    Op("lake", "CHECK constraints: declared SQL predicates validated on add, enforced pre-publish on append/replace/upsert/merge/update at zero extra jobs", "graft.etl.ManifestLake.addConstraint/dropConstraint/constraintsOf", "q105"),
    Op("lake", "column mapping: RENAME/DROP/ADD columns without rewriting data files; old versions time-travel under their own names", "graft.etl.ManifestLake.renameColumn/dropColumn/addColumn", "q106"),
    Op("lake", "type widening without rewrite: int->long, float->double, int->double, decimal growth as metadata-only commits", "graft.etl.ManifestLake.widenColumnType", "q107"),
    Op("lake", "bloom-filter file skipping for high-cardinality point lookups (sticky bloomCols, sidecar per commit)", "graft.etl.ManifestLake.write(bloomCols = ...)", "q113"),
    Op("lake", "change feed by wall clock + CDC-stream startingTimestamp", "graft.etl.ManifestLake.readChangeFeedByTime", "spec"),
    Op("lake", "stable row identity: (_row_file, _row_index) per row, mask-aware, rewrite-honest", "graft.etl.ManifestLake.readWithRowIds", "spec"),
    Op("lake", "generated columns: GENERATED ALWAYS AS — compute-if-absent, validate-if-supplied, generated partition columns, opt-in backfill", "graft.etl.ManifestLake.addGeneratedColumn", "q114"),
    Op("lake", "segmented manifests: delta commits (O(changed) bytes) + checkpoint cadence + chain-retaining vacuum", "graft.etl.ManifestLake.publish/readManifest", "q115"),
    Op("lake", "CDC-apply merge: superset source with condition-only routing columns", "graft.etl.ManifestLake.merge", "q116"),
    Op("lake", "SQL-text DML: spark.sql MERGE INTO / UPDATE / DELETE / INSERT INTO / INSERT OVERWRITE on graft-manifest targets via injected parser (multipart path or temp view)", "graft.etl.GraftSqlParser via graft.functions.GraftExtensions", "q117, q118, q119, q120, q121"),
    Op("lake", "SQL read surface: direct `graft-manifest`.`/path` queries (delta.`/path` idiom) + VERSION AS OF / TIMESTAMP AS OF time travel on any manifest reference; history/detail metadata views via OPTIONS (view '…')", "graft.etl.GraftSqlDml.rewriteReads + etl.MetadataViewRelation", "q122; SqlDmlSpec, ManifestDataSourceSpec"),
    Op("lake", "SQL DDL: ALTER TABLE ADD/RENAME/DROP COLUMN, ALTER COLUMN TYPE widening, ADD/DROP CONSTRAINT on manifest tables (metadata-only engine ops; unsupported clauses refuse loudly)", "graft.etl.GraftAlterCommand via GraftSqlParser", "q123; SqlDmlSpec"),
    Op("lake", "SQL table utilities: DESCRIBE [EXTENDED] / SHOW PARTITIONS [PARTITION spec] / SHOW COLUMNS / TRUNCATE TABLE [PARTITION] on manifest tables, served from the manifest (metadata-only)", "graft.etl.GraftDescribeCommand/GraftShowPartitionsCommand/GraftTruncateCommand", "q124; SqlDmlSpec"),
    Op("lake", "SQL CREATE TABLE / CTAS / REPLACE TABLE on manifest paths (schema, identity partitioning, CHECK constraints, trailing GENERATED columns; IF NOT EXISTS / OR CREATE semantics; properties/options/LOCATION/COMMENT/NOT NULL refuse loudly)", "graft.etl.GraftCreateTableCommand", "q125; SqlDmlSpec"),
    Op("lake", "sticky stat tracking: statsCols is a header fact like bloom tracking — declared once (write option or TBLPROPERTIES graft.statsCols/graft.bloomCols at SQL CREATE), every later commit keeps collecting; REPLACE resets", "graft.etl.ManifestLake (statsColsDefault)", "q125 in-line; SqlDmlSpec"),
    Op("lake", "ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS]: metadata-only per-file stats backfill (bounds/null-counts/value-sets for files missing them, no data rewrite; columns join the sticky declared set) + SHOW TBLPROPERTIES", "graft.etl.ManifestLake.analyzeStats via GraftAnalyzeCommand", "q126; SqlDmlSpec"),
    Op("lake", "dynamic partition overwrite: touched partitions swap wholesale in ONE commit, untouched carry by reference, exact delete+insert CDC; SQL INSERT OVERWRITE PARTITION incl. empty-query partition clear", "graft.etl.ManifestLake.overwritePartitions", "q121"),
    Op("lake", "nested-field SET in UPDATE (meta.qual = expr, withField semantics), Scala + SQL", "graft.etl.ManifestLake.update (dotted SET)", "spec"),
    Op("lake", "full-clause MERGE: ordered WHEN clauses, partial SET, explicit INSERT lists, NOT MATCHED BY SOURCE update/delete", "graft.etl.ManifestLake.mergeClauses", "q119"),
    Op("lake", "DV-aware maintenance: rewrite files past maxMaskedFraction (REORG APPLY PURGE analog)", "graft.etl.ManifestLake.maintain/compact", "spec"),
    Op("lake", "nested-column schema evolution at ANY depth, metadata-only: struct columns first-class; nested-field RENAME (dotted-path fieldmap, positional-cast boundary), WIDEN (reader upcast), DROP (physical path retired; re-adds mint fresh fields — dropped data never resurrects), and ADD (typed nulls from old files); non-struct paths refuse typed; nested-ref expressions lock their exact branch", "graft.etl.ManifestLake.renameColumn/widenColumnType/dropColumn/addColumn (dotted targets)", "q135, q138"),
    Op("lake", "NAMED tables via a DSv2 TableCatalog: spark.sql.catalog.<cat>=graft.etl.GraftCatalog + warehouse maps cat.ns.t onto manifest roots — every SQL verb by name, USE for bare names, SHOW TABLES/NAMESPACES, DROP/RENAME TABLE, spark.table() and the full df.writeTo() verb set (append/overwritePartitions/overwrite/create/createOrReplace); name and path spellings address the SAME state", "graft.etl.GraftCatalog (+ GraftCatalogRule via GraftExtensions)", "q136; NamedCatalogSpec"),
    Op("lake", "in-place adoption of an existing parquet directory (CONVERT TO DELTA idiom): v1 manifest over the files already there — zero data movement; layout-discovered partition columns, declarable value types with round-trip canonicality checks; SQL CONVERT TO GRAFT parquet.`/path`", "graft.etl.ManifestLake.adopt / GraftConvertCommand", "q75, q76, q137; AdoptSpec"),
    Op("lake", "live table properties: ALTER TABLE SET/UNSET TBLPROPERTIES flips graft.statsCols/graft.bloomCols on an existing table (metadata-only); SET then ANALYZE makes an undeclared table skippable", "graft.etl.ManifestLake.setTableProperties", "spec"),
    Op("lake", "sharded parquet checkpoints above 1M files: parallel snapshot write + parallel cold parse (10M files: 8.9s cold read), spark.read.parquet-readable file inventory, atomic pointer manifest, vacuum-managed", "graft.etl.ManifestLake (CheckpointShardThreshold)", "spec"),
    Op("lake", "column DEFAULT values: CREATE-time DEFAULT lit + ALTER COLUMN SET/DROP DEFAULT (metadata-only header fact, literal-only, ANSI-validated at declare); INSERT/MERGE column lists omitting the column materialize it, explicit NULL stays NULL", "graft.etl.ManifestLake.setColumnDefault", "q140; ColumnDefaultSpec"),
    Op("lake", "SHALLOW CLONE: CREATE [OR REPLACE] TABLE t SHALLOW CLONE s [VERSION AS OF n] — one metadata commit referencing the source's files by absolute path (zero copy); header facts carry, divergence free both ways, clone vacuum can never reap source files", "graft.etl.ManifestLake.shallowClone", "q141; CloneSpec"),
    Op("lake", "IDENTITY columns: GENERATED ALWAYS AS IDENTITY (START WITH/INCREMENT BY) — engine-assigned unique BIGINTs via per-partition lanes, watermark advanced off the write's own file stats, concurrent appends restage to disjoint ranges", "graft.etl.ManifestLake.declareIdentity", "q142; IdentityColumnSpec"),
    Op("lake", "partition-scoped compaction: OPTIMIZE t WHERE <partition predicate> [ZORDER BY] - the steady-state cadence on a huge table; unselected partitions carry by reference", "graft.etl.ManifestLake.compact(where)", "spec"),
    Op("lake", "FSCK REPAIR TABLE [DRY RUN]: un-reference data files deleted out-of-band (one listing, never a per-file RPC storm); vanished BLOOM sidecars un-reference (scans already degrade to no-skip); missing DV sidecars refuse - both repairs would be lossy", "graft.etl.ManifestLake.fsck", "spec"),
    Op("lake", "COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON [PATTERN] [FORMAT_OPTIONS] [COPY_OPTIONS('force')] [VALIDATE]: idempotent batch file ingestion, exactly-once by source-file identity on the txn ledger; re-runs no-op, mutated files refuse unless force, racing COPYs publish exactly one; PATTERN takes full globs (**, {a,b} braces spanning sibling trees); FORMAT_OPTIONS('schema'='<DDL>') pins the CSV/JSON read schema (one pass — inference is a second full pass over a 100 TB source); VALIDATE dry-runs every metadata refusal (listing/pattern, mutated-file identity, schema drift, store-assignability) without reading rows or committing; data-dependent CHECK/NOT NULL refusals surface on the real load", "graft.etl.ManifestLake.copyInto", "q143, q148; CopyIntoSpec"),
    Op("lake", "IDENTITY BY DEFAULT + declare-on-nonempty: supplied values pass through with the watermark advancing past max(supplied, assigned); declaring on a table with rows seeds the watermark from the existing column max via the stats machinery", "graft.etl.ManifestLake.declareIdentity(byDefault)", "q144; IdentityColumnSpec"),
    Op("lake", "NOT NULL as first-class DDL: CREATE-time col NOT NULL and ALTER COLUMN SET/DROP NOT NULL lower to a reserved CHECK pair (enforcement rides the constraint machinery); SHOW CREATE/DESCRIBE render it back", "graft.etl.GraftSqlDml (GraftNotNull)", "q133 in-line; SqlDmlSpec"),
    Op("lake", "DEEP CLONE + ALTER TABLE MATERIALIZE: copy every referenced file (data + DV/bloom sidecars) into the clone's own tree via ONE distributed job, DV masks carried byte-unchanged (nested data/v… suffix keeps the join key); MATERIALIZE untethers a shallow clone in place", "graft.etl.ManifestLake.deepClone/materialize", "q145; CloneSpec"),
    Op("lake", "declarative clustering keys (liquid-clustering idiom): CLUSTER BY at CREATE / graft.clusterCols SET/UNSET — bare OPTIMIZE lays files out by the declared keys (z-order for 2+ curve-encodable keys, range otherwise); OPTIMIZE FULL re-clusters already-compacted data", "graft.etl.ManifestLake.compact (declared-key defaulting)", "SqlDmlSpec"),
    Op("lake", "REORG TABLE t [WHERE] APPLY (PURGE): rewrite exactly the DV-masked files (materializing masks), clean files carry by reference", "graft.etl.ManifestLake.compact(purgeOnly)", "SqlDmlSpec"),
    Op("lake", "table + column COMMENTs and arbitrary user TBLPROPERTIES as open-ended #extra header facts: CREATE/ALTER COLUMN COMMENT/COMMENT ON TABLE, non-graft property keys store verbatim; DESCRIBE/SHOW CREATE/SHOW TBLPROPERTIES render runnable round-trips", "graft.etl.ManifestLake.setComments/setTableProperties", "q133 in-line; SqlDmlSpec"),
    Op("lake", "generated-partition-column filter inference (OptimizeGeneratedColumn idiom): equality/IN filters on the base column derive the partition predicate and prune — sound by the engine's write invariant; RANGE filters too when the generation shape is provably monotone (CAST-to-DATE, to_date, date_trunc/trunc, year, floor(x/N), substring(s,1,k)) AND the storage cast keeps order (ISO dates as strings yes, numbers as strings no), with strict bounds on discrete bases tightened through the neighbor value so half-open day ranges prune exactly; multi-base/non-monotone shapes skip", "graft.etl.GraftGeneratedPartitionFilter", "q147; GeneratedPartitionFilterSpec"),
    Op("lake", "metadata-only commits never kill a stream: constraint/properties/analyze/metadata-schema commits with an unchanged path set serve an EMPTY diff in both append feeds; a schema backfill (files rewritten) still refuses", "graft.etl.ManifestLake.isEmptyMetadataDiff", "ManifestStreamSourceSpec"),
    Op("lake", "reader feature gating: #requires <feature> header facts name what a manifest depends on for correct row visibility; an unimplemented required feature refuses typed (UnsupportedTableFeatureException) at the parse chokepoint every read path shares — batch, SQL, streaming, CDC, writers; advisory unknown directives stay ignorable; features are sticky (publish inherits — no commit path can drop one silently), deletion vectors auto-stamp, clones carry", "graft.etl.ManifestLake (SupportedReaderFeatures)", "FeatureGateSpec"),
    Op("lake", "ALTER TABLE t DROP FEATURE '<name>': remove a provably-unused required feature so older readers regain the table — refuses while evidence remains (live DV masks need REORG APPLY (PURGE) first), the publish-time auto-stamp outruns any drop, historical versions keep their own stamps", "graft.etl.ManifestLake.dropFeature", "FeatureGateSpec"),
    Op("lake", "write-time bin packing (optimizeWrite/autoCompact idiom): opt-in graft.autoCompact.targetFileBytes/.minNumFiles TBLPROPERTIES — after an append/upsert/COPY commit, partitions holding minNumFiles files under the target get their SMALL files packed as a follow-on commit (right-sized files never rewritten: bounded write amplification); failed or raced packs defer to the next write", "graft.etl.ManifestLake.setTableProperties (autoCompact properties)", "q146; AutoCompactSpec"),
    Op("stream", "streaming BY NAME: readStream.table(\"graft.ns.t\") onto the manifest source (checkpoint-interchangeable with the path spelling, readChangeFeed via options) and writeStream.format(\"graft-manifest\").toTable onto the exactly-once sink via the V1-fallback seam", "graft.etl.GraftNamedTable + GraftCatalogRule", "NamedStreamingSpec"),
    Op("stream", "streaming CDC apply: foreachBatch conditional merge, txn-ledger exactly-once across restart", "graft.streaming.EventStreams.manifestMergeSink", "spec"),
    Op("stream", "streaming partition-snapshot sink: each batch swaps exactly its partitions atomically (periodic dimension refresh shape)", "graft.streaming.EventStreams.manifestPartitionOverwriteSink", "spec"),
    Op("stream", "CDC relay pipeline: change-feed stream of table A driving the merge sink on mirror B, exactly-once across restart on both ends", "graft.streaming.ManifestChangeFeedSource + manifestMergeSink", "spec"),
    Op("lake", "commit history narration (DESCRIBE HISTORY analog: kinds, sizes, txn ledger)", "graft.etl.ManifestLake.history", "spec"),
    Op("lake", "table detail (DESCRIBE DETAIL analog: head summary + per-column stats coverage)", "graft.etl.ManifestLake.detail", "spec"),
    Op("lake", "vacuum dry-run (report-only retention preview)", "graft.etl.ManifestLake.vacuum(dryRun)", "spec"),
    Op("lake", "genomic lake on manifest commit: pos clustering + file-skipping stats", "graft.etl.Lake.writeManifested", "spec"),
    Op("lake", "shuffle-free co-located joins via bucketing", "graft.ops.Bucketing.writeBucketed", "q13"),
    // --- deduplication ---
    Op("dedup", "exact duplicate groups / survivors", "graft.ops.Dedup.exactGroups/deduplicate", "q20, q36"),
    Op("dedup", "MinHash signatures + LSH bands + candidate pairs", "graft.ops.Dedup.minhashSignature/lshBands/candidatePairs", "q21"),
    Op("dedup", "Jaccard verification of candidates", "graft.ops.Dedup.jaccardVerify*", "q22"),
    Op("dedup", "SimHash fingerprints + hamming-distance join (pigeonhole bands)", "graft.ops.Dedup.simhash/simhashPairs", "q23, q94"),
    Op("dedup", "duplicate clusters = connected components", "graft.ops.Dedup.duplicateClusters/deduplicateTransitive", "q62"),
    Op("dedup", "incremental batch-vs-corpus dedup", "graft.ops.Dedup.dedupAgainstCorpus", "q77"),
    Op("dedup", "line-level dedup + boilerplate strip (CCNet)", "graft.ops.CorpusOps.dedupLines/stripBoilerplate", "q60, q61"),
    Op("dedup", "span-level duplicated passages: detect / remove", "graft.ops.CorpusOps.duplicatedPassages/removeDuplicatedPassages", "q67, q93"),
    Op("dedup", "semantic dedup (k-means cells)", "graft.ops.Similarity.semanticDedup", "q71"),
    // --- similarity / ANN ---
    Op("ann", "brute-force cosine pairs / top-k (small-n baseline)", "graft.ops.Similarity.bruteForcePairs/topK", "q24, q25"),
    Op("ann", "sign-LSH bucketed pairs", "graft.ops.Similarity.lshPairs", "q26"),
    Op("ann", "IVF codebook train / assign / probe top-k", "graft.ops.Similarity.ivfCodebook/ivfAssign/ivfTopK", "q35"),
    Op("ann", "k-means (full Lloyd) + persisted-codebook assignment", "graft.ops.Similarity.kmeansCodebook/assignToCodebook", "q70, q87"),
    Op("ann", "k-NN graph over LSH buckets", "graft.ops.Similarity.knnGraph", "q90"),
    Op("ann", "int8 vector quantization", "graft.ops.Similarity.quantizeInt8", "q64"),
    Op("ann", "cluster-balanced diversity sampling", "graft.queries.LlmOps (cluster_sample)", "q83"),
    // --- fuzzy / specialized joins ---
    Op("join", "edit-distance join, d<=2 (deletion-neighborhood blocking)", "graft.ops.FuzzyJoin.editDistanceJoin", "q85"),
    Op("join", "row-carrying fuzzy join with payloads", "graft.ops.FuzzyJoin.fuzzyJoinRows", "q86"),
    Op("join", "as-of (most-recent-prior) join", "graft.ops.AsOf.asofJoin", "q44"),
    Op("join", "range (interval-containment) join via binning", "graft.ops.RangeJoin.binned", "q47"),
    Op("join", "skew-salted aggregation", "graft.ops.Skew.saltedSum/saltedAgg", "q45"),
    // --- text analysis ---
    Op("text", "tokenization / n-grams / shingles (native codegen)", "graft.ops.TextOps.tokens/wordNgrams/charShingles", "q21, q29"),
    Op("text", "language-ID n-gram heuristic", "graft.ops.TextOps.langNgramScore", "q28"),
    Op("text", "quality scoring + stopword/punct ratios", "graft.ops.TextOps (quality stats)", "q27"),
    Op("text", "document fingerprinting (rolling hash)", "graft.ops.TextOps.fingerprint/rollingHash", "q49"),
    Op("text", "PII redaction", "graft.ops.TextOps.redactPii", "q39"),
    Op("text", "BPE-ish token counting", "graft.ops.TextOps.bpeishTokenCount", "q63"),
    // --- corpus governance ---
    Op("corpus", "repetition statistics", "graft.ops.CorpusOps.repetitionStats", "q48"),
    Op("corpus", "benchmark contamination check", "graft.ops.CorpusOps.ngramContamination", "q50"),
    Op("corpus", "deterministic train/val/test splits", "graft.ops.CorpusOps.deterministicSplit", "q51"),
    Op("corpus", "stratified sampling", "graft.ops.CorpusOps.stratifiedSample", "q57"),
    Op("corpus", "document chunking", "graft.ops.CorpusOps.chunk", "q55"),
    Op("corpus", "inverted index (capped postings)", "graft.ops.CorpusOps.invertedIndex", "q56"),
    Op("corpus", "frequent n-gram mining", "graft.ops.CorpusOps.frequentNgrams", "q84"),
    Op("corpus", "bigram-LM fluency scoring", "graft.ops.CorpusOps.bigramLmScore", "q68"),
    Op("corpus", "perplexity tiers: exact ntile / approx percentile", "graft.queries.LlmOps (q74) / CorpusOps.pplTiersApprox", "q74"),
    Op("corpus", "temperature (alpha) stratum rebalancing", "graft.ops.CorpusOps.temperatureSample", "q69"),
    Op("corpus", "explicit-mixture materialization (downsample-only to target weights)", "graft.ops.CorpusOps.mixToWeights", "q102"),
    Op("corpus", "DSIR-shaped hashed importance weights (target-vs-source bucket masses)", "graft.ops.CorpusOps.importanceMass", "q103"),
    Op("corpus", "BM25 retrieval", "graft.ops.CorpusOps.bm25", "q72"),
    Op("corpus", "sequence packing", "graft.ops.CorpusOps.packSequences", "q73"),
    Op("corpus", "compression-ratio quality signal", "graft.ops.CorpusOps.compressionSignals", "q78"),
    // --- multimodal ---
    Op("media", "typed media metadata + format sniffing", "graft.ops.Multimodal.withMediaMeta/sniffFormat", "q59"),
    Op("media", "image/audio/GIF/MJPEG decode via JDK codecs", "graft.ops.Multimodal.decodeImage/decodeAudio/decodeFrames", "q33"),
    Op("media", "feature extract / resize / frame sampling", "graft.ops.Multimodal.extractFeatures/resize/sampleFrames", "q33"),
    Op("media", "unsupported-codec rows -> external transcoder seam", "graft.ops.Multimodal.transcodeWith", "spec"),
    Op("media", "ffmpeg adapter for the seam (MPEG -> GIF -> real frames; optional host binary)", "graft.ops.FfmpegTranscoder.transcoder/available", "spec"),
    // --- validation / temporal ---
    Op("quality", "data-quality validation (predicates/uniqueness/ref-integrity)", "graft.ops.Validation.check", "q82"),
    Op("temporal", "SCD Type-2 history from a change log", "graft.ops.Temporal.scd2", "q91"),
    Op("temporal", "point-in-time snapshot", "graft.ops.Temporal.snapshotAt", "q91"),
    // --- vectors / native SQL functions ---
    Op("functions", "vec_dot / vec_cosine / char_shingles / minhash_mixes / hyperplane_sketch / deletion_hashes", "graft.functions.GraftFunctions.register (SQL + Column API)", "q24-q26, q21, q85"),
    Op("functions", "bounded sorted-set UDAF", "graft.functions.BoundedSortedSetAgg", "q32"),
    // --- streaming ---
    Op("streaming", "tumbling/sliding/session windows + watermarks", "graft.streaming.EventStreams.hourlyByType/slidingVolume/userSessions", "spec"),
    Op("streaming", "stream-stream attribution join", "graft.streaming.EventStreams.attributedPurchases", "spec"),
    Op("streaming", "stream-static enrichment", "graft.streaming.EventStreams.enrichWithDim", "spec"),
    Op("streaming", "TTL-bounded streaming dedup (vs corpus / by id)", "graft.streaming.EventStreams.streamDedupAgainstCorpus/dedupByEventId", "spec"),
    Op("multimodal", "perceptual image hash + cross-modal near-dup join (aHash bits, banded hamming reuse)", "graft.ops.Multimodal.perceptualHash/imageNearDups", "q112"),
    Op("corpus", "token-budget mixture: per-stratum greedy md5-priority prefix to a token budget", "graft.ops.CorpusOps.mixToTokenBudgets", "q111"),
    Op("streaming", "manifest-committed upsert sink: exactly-once txn ledger + auto-maintenance", "graft.streaming.EventStreams.manifestUpsertSink", "spec"),
    Op("streaming", "append-only manifest sink (log streams; exactly-once)", "graft.streaming.EventStreams.manifestAppendSink", "spec"),
    Op("streaming", "manifest lake as a STREAMING SOURCE: version offsets, snapshot + verified appends, checkpointed restart, ignoreNonAppend, maxFiles/BytesPerTrigger rate limits", "spark.readStream.format(\"graft-manifest\") via graft.streaming.ManifestStreamSource", "spec"),
    Op("streaming", "manifest STREAMING SINK via format registration: Append/Update/Complete -> append/upsert/replace commits, exactly-once ledger", "df.writeStream.format(\"graft-manifest\") via graft.streaming.ManifestStreamSink", "spec"),
    Op("streaming", "CDC stream over the row-level change feed: inserts/pre/post-images/deletes per commit, maxVersionsPerTrigger", "spark.readStream.format(\"graft-manifest\").option(\"readChangeFeed\",\"true\") via graft.streaming.ManifestChangeFeedSource", "spec"))

  /** The catalog as a DataFrame, for interactive discovery. */
  def catalogDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    catalog.map(o => (o.area, o.task, o.entryPoint, o.gate))
      .toDF("area", "task", "entry_point", "gate")
  }

  /** The README's operator table (GitHub markdown). */
  def markdownTable: String = {
    val header = Seq(
      "| area | task | entry point | gate |",
      "|---|---|---|---|")
    val rows = catalog.map(o =>
      s"| ${o.area} | ${o.task} | `${o.entryPoint}` | ${o.gate} |")
    (header ++ rows).mkString("\n")
  }

  /** Prints the markdown table — paste target for README regeneration. */
  def main(args: Array[String]): Unit = println(markdownTable)
}
