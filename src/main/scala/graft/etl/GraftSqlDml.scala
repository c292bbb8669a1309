package graft.etl

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedPartitionSpec, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, CheckConstraint, EqualNullSafe, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns, AlterColumns, Assignment, ColumnDefinition, CreateTable, CreateTableAsSelect, AnalyzeColumn, AnalyzeTable, DeleteAction, DeleteFromTable, DescribeRelation, DropColumns, DropConstraint, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, RenameColumn, ReplaceTableAsSelect, ShowColumns, ShowPartitions, ShowTableProperties, SubqueryAlias, TruncatePartition, TruncateTable, UnresolvedTableSpec, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.types.LongType

/** The FULL SQL surface over manifest tables, running the SAME
  * [[ManifestLake]] engine the Scala API drives, so a `spark.sql`-only
  * user (Python, R, JDBC, BI) loses nothing:
  *
  *   - reads: `` SELECT … FROM `graft-manifest`.`/path` `` directly
  *     (Delta's `` delta.`/path` `` idiom), `VERSION AS OF` /
  *     `TIMESTAMP AS OF` time travel on any manifest reference
  *     ([[rewriteReads]]);
  *   - DML: `MERGE INTO` (full clause surface), `UPDATE`, `DELETE`,
  *     `INSERT INTO`/`INSERT OVERWRITE` (static + dynamic partition
  *     overwrite as one commit);
  *   - DDL: `CREATE TABLE` / `CREATE TABLE … AS SELECT` /
  *     `REPLACE TABLE … AS SELECT` ([[GraftCreateTableCommand]]),
  *     `ALTER TABLE` ADD/RENAME/DROP COLUMN, `ALTER COLUMN … TYPE`
  *     widening, `ADD`/`DROP CONSTRAINT` ([[GraftAlterCommand]]);
  *   - utilities: `DESCRIBE [EXTENDED]`, `SHOW PARTITIONS`,
  *     `SHOW COLUMNS`, `TRUNCATE TABLE [PARTITION]` — all served from
  *     the manifest, metadata-only.
  *
  * `DROP TABLE` is deliberately NOT served: a manifest table is its
  * path, so dropping is deleting the directory — an operation for the
  * storage layer, not a query engine (Spark's own error surfaces).
  *
  * {{{
  *   spark.sql("""
  *     MERGE INTO `graft-manifest`.`/lake/docs` t
  *     USING updates s
  *     ON t.lang = s.lang AND t.doc_id = s.doc_id
  *     WHEN MATCHED AND s.op = 'd' THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT *
  *   """)
  *   spark.sql("UPDATE `graft-manifest`.`/lake/docs` SET text = upper(text) WHERE doc_id = 7")
  *   spark.sql("SELECT * FROM `graft-manifest`.`/lake/docs` VERSION AS OF 3")
  * }}}
  *
  * Mechanism: [[GraftSqlParser]] is injected via
  * `spark.sql.extensions=graft.functions.GraftExtensions` and wraps the
  * session parser. Spark's OWN grammar parses the statement (we add no
  * syntax); the wrapper then pattern-matches the parsed
  * `MergeIntoTable` / `UpdateTable` / `DeleteFromTable` plan and, ONLY
  * when the target is a manifest table — the multipart form
  * `` `graft-manifest`.`/path` `` or a temp view registered over the
  * `graft-manifest` source — swaps in a runnable command that
  * dispatches to the engine. Every other statement passes through
  * byte-identical, so the wrapper is invisible to non-manifest SQL.
  *
  * Scope (refusals are loud, never silent):
  *   - MERGE: full clause surface — ordered WHEN MATCHED
  *     UPDATE/DELETE, WHEN NOT MATCHED INSERT, WHEN NOT MATCHED BY
  *     SOURCE UPDATE/DELETE, each with optional AND conditions,
  *     `SET *` / explicit SET lists, `INSERT *` / explicit column
  *     lists — mapped onto [[ManifestLake.mergeClauses]]. The ON
  *     condition must be a conjunction of t.col = s.col equalities
  *     (the engine merges by key; arbitrary join predicates belong in
  *     clause conditions). `WITH SCHEMA EVOLUTION` folds the source's
  *     new columns (metadata-only, nullable) into the merge's single
  *     atomic commit — see [[GraftMergeCommand]]; re-typed existing
  *     columns still refuse (the merge never widens a type).
  *   - UPDATE with SET + WHERE → [[ManifestLake.update]].
  *   - DELETE with WHERE → [[ManifestLake.delete]] (rewrite path;
  *     partition-only predicates take the metadata-only fast path
  *     inside the engine).
  *
  * DML always targets the table HEAD version — a temp view target is
  * resolved to its table path, not its (possibly stale) file snapshot;
  * re-read the view (or use the multipart form) after mutating.
  */
object GraftSqlDml {

  private val Format = "graft-manifest"

  /** The manifest-table path a DML target names, if it names one:
    * `` `graft-manifest`.`/path` `` (also `graft_manifest` — some SQL
    * dialects cannot quote a dash) or a temp view over the source.
    * Returns (path, qualifiers-that-name-the-target-in-expressions).
    */
  private def targetPath(spark: SparkSession,
                         table: LogicalPlan): Option[(String, Set[String])] =
    table match {
      case SubqueryAlias(ident, child) =>
        targetPath(spark, child).map { case (p, quals) =>
          (p, quals + ident.name.toLowerCase)
        }
      case r: UnresolvedRelation =>
        r.multipartIdentifier match {
          case Seq(fmt, p)
            if fmt.equalsIgnoreCase(Format) ||
              fmt.equalsIgnoreCase("graft_manifest") =>
            Some((p, Set(p.toLowerCase)))
          case Seq(name) =>
            tempViewManifestPath(spark, name)
              .orElse(if (shadowedByTempView(spark, name)) None
                      else GraftCatalog.currentIdentPath(spark, name))
              .map(p => (p, Set(name.toLowerCase)))
          case parts =>
            // NAMED tables (cat.ns.t / cat.t under a configured graft
            // catalog): the name collapses to the warehouse path and
            // every dotted-prefix spelling of the name qualifies
            // column references (t.col, ns.t.col, cat.ns.t.col)
            GraftCatalog.identPath(spark, parts).map { p =>
              val quals = (1 to parts.length).map(n =>
                parts.takeRight(n).mkString(".").toLowerCase).toSet
              (p, quals)
            }
        }
      case _ => None
    }

  /** The manifest root under a temp view registered over the
    * graft-manifest source (CREATE TEMPORARY VIEW … USING), found by
    * digging the view's plan for the relation's [[ManifestFileIndex]].
    */
  private[etl] def tempViewManifestPath(spark: SparkSession,
                                        name: String): Option[String] = {
    val cat = spark.sessionState.catalog
    val viewPlan: Option[LogicalPlan] =
      try cat.getTempView(name).orElse(
        cat.getGlobalTempView(name))
      catch { case _: Exception => None }
    viewPlan.flatMap(_.collectFirst {
      case LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _)
        if fsRel.location.isInstanceOf[ManifestFileIndex] =>
        fsRel.location.rootPaths.head.toString
    })
  }

  /** True when a LOCAL temp view of this name exists but is NOT
    * manifest-backed. Spark's resolution order gives local temp views
    * precedence over catalog tables for single-part names, so a
    * DML/maintenance statement naming such a view must never fall
    * through to a same-named catalog table — the engine declines (and
    * Spark's own analyzer then picks the view and refuses, exactly the
    * vanilla behavior) instead of silently mutating the shadowed table.
    * Only LOCAL views shadow: global temp views need the `global_temp.`
    * qualifier in Spark's order, so they never block the fall-through.
    */
  private[etl] def shadowedByTempView(spark: SparkSession,
                                      name: String): Boolean = {
    val localExists =
      try spark.sessionState.catalog.getTempView(name).isDefined
      catch { case _: Exception => false }
    localExists && tempViewManifestPath(spark, name).isEmpty
  }

  /** Direct-query SQL on manifest tables, no temp view needed —
    * `` SELECT … FROM `graft-manifest`.`/path` `` (Delta's
    * `` delta.`/path` `` idiom; the format name is a reserved
    * namespace) — plus `VERSION AS OF n` / `TIMESTAMP AS OF ts` time
    * travel on any manifest reference (multipart or temp view).
    * Spark's own grammar parses both shapes; the v1 analyzer refuses
    * them for table-format providers, so the wrapper resolves them
    * HERE: the (optionally pinned) version's relation swaps in — the
    * same `ManifestLake.relation` the read option serves — aliased
    * under the table's name so qualified references keep resolving.
    * Works anywhere a table reference can appear: a SELECT source, a
    * MERGE USING leg, a join leg. Non-manifest references pass through
    * untouched. The version must be a number and a timestamp must be a
    * LITERAL (string / TIMESTAMP / DATE) — an expression that needs
    * evaluation refuses loudly. The head version resolves at PARSE
    * time (the same moment a file listing would snapshot).
    *
    * Call this AFTER [[rewrite]] has claimed DML statements — their
    * target resolution pattern-matches the raw `UnresolvedRelation`.
    */
  def rewriteReads(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case RelationTimeTravel(u: UnresolvedRelation, tsExpr, verStr)
          if targetPath(spark, u).isDefined =>
        val (path, _) = targetPath(spark, u).get
        val version: Long = (verStr, tsExpr) match {
          case (Some(s), _) =>
            s.toLongOption.getOrElse(throw new IllegalArgumentException(
              s"VERSION AS OF on a manifest table must be a version " +
                s"number, got '$s'"))
          case (None, Some(e)) =>
            ManifestLake.versionAtTimestamp(spark, path,
              literalMillis("TIMESTAMP AS OF", e))
          case (None, None) => throw new IllegalArgumentException(
            "time travel on a manifest table needs VERSION AS OF or " +
              "TIMESTAMP AS OF")
        }
        // the full LOGICAL read, not the raw relation: readVersion
        // carries the column-mapping/nested-field projection and the
        // DV masks, so a renamed/dropped-column table serves logical
        // names here exactly as the Scala API does
        SubqueryAlias(u.multipartIdentifier.last,
          ManifestLake.readVersion(spark, path, version)
            .queryExecution.logical)
      // the bare multipart head read — ONLY the explicit format-name
      // spelling (a temp view already resolves through the catalog)
      case u: UnresolvedRelation if directPath(u).isDefined =>
        val path = directPath(u).get
        SubqueryAlias(u.multipartIdentifier.last,
          ManifestLake.read(spark, path).queryExecution.logical)
      // table_changes('<path or temp view>', start [, end]) — the
      // row-level change feed as a table-valued function (Delta's
      // idiom), usable anywhere a table reference can appear. Integer
      // bounds are INCLUSIVE commit versions (Delta's convention:
      // table_changes(t, 2, 2) is exactly v2's deltas — the engine's
      // (fromV, toV] window receives start-1); a timestamp START bound
      // includes every commit at-or-after the instant (earliest such
      // version - 1 as the exclusive lower bound), a timestamp END
      // bound is latest-at-or-before — both Delta's CDF conventions.
      // The end bound defaults to the head. An empty window is the
      // empty frame with the feed's schema, not an error.
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.length == 1 &&
            tvf.name.head.equalsIgnoreCase("table_changes") &&
            tvf.functionArgs.headOption.exists {
              case Literal(s, _: org.apache.spark.sql.types.StringType) =>
                s != null; case _ => false } =>
        rewriteTableChanges(spark, tvf.functionArgs)
    }

  /** [[rewriteReads]]'s table_changes body — bounds resolved, engine
    * feed (or the typed empty frame) swapped in under the TVF's name.
    */
  private def rewriteTableChanges(spark: SparkSession,
                                  args: Seq[Expression]): LogicalPlan = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(args.length == 2 || args.length == 3,
      s"table_changes(table, start [, end]) takes 2 or 3 arguments, " +
        s"got ${args.length}")
    val raw = args.head.asInstanceOf[Literal].value.toString
    // the string names (in order): a temp view over the source, a
    // NAMED catalog table ('graft.ns.t' — only tried when it cannot be
    // a path), or the manifest root path itself
    val path = tempViewManifestPath(spark, raw).orElse {
      if (raw.contains('/')) None
      else if (raw.contains('.'))
        GraftCatalog.identPath(spark, raw.split("\\.").toSeq)
      else if (shadowedByTempView(spark, raw))
        throw new IllegalArgumentException(
          s"table_changes: '$raw' is a temp view that is not " +
            "manifest-backed — temp views take precedence over catalog " +
            "tables; drop the view or use the qualified table name")
      else GraftCatalog.currentIdentPath(spark, raw)
        .filter(p => ManifestLake.currentVersion(spark, p).isDefined)
    }.getOrElse(raw)
    val head = ManifestLake.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"table_changes: no manifested table at $path"))
    def versionArg(e: Expression): Option[Long] = e match {
      case Literal(v: java.lang.Integer, IntegerType) => Some(v.longValue)
      case Literal(v: java.lang.Long, LongType) => Some(v.longValue)
      case Literal(v: java.lang.Short, ShortType) => Some(v.longValue)
      case Literal(v: java.lang.Byte, ByteType) => Some(v.longValue)
      case _ => None
    }
    val fromV = versionArg(args(1)) match {
      case Some(n) =>
        require(n >= 1,
          s"table_changes start version must be >= 1 (versions are " +
            s"inclusive; v1 is the first commit), got $n")
        n - 1
      case None =>
        // Delta's CDF START-timestamp convention: include every commit
        // made AT or AFTER the instant — resolve to the earliest such
        // version, then use version-1 as the exclusive lower bound (a
        // commit landing exactly at the timestamp is included; the END
        // bound below keeps latest-at-or-before, also Delta's).
        ManifestLake.earliestVersionAtOrAfter(spark, path,
          literalMillis("table_changes start", args(1))) - 1
    }
    val toV =
      if (args.length == 3) versionArg(args(2)).getOrElse(
        ManifestLake.versionAtTimestamp(spark, path,
          literalMillis("table_changes end", args(2))))
      else head
    require(toV >= fromV,
      s"table_changes: end bound (v$toV) precedes start bound " +
        s"(exclusive v$fromV)")
    val df =
      if (toV == fromV) ManifestLake.emptyChangeFeed(spark, path, toV)
      else ManifestLake.readChangeFeed(spark, path, fromV, toV)
    SubqueryAlias("table_changes", df.queryExecution.logical)
  }

  /** A time-bound LITERAL → epoch millis (timestamp, NTZ-as-UTC, date,
    * or parsable string); anything needing evaluation refuses loudly.
    */
  private def literalMillis(what: String, e: Expression): Long = e match {
    case lit: Literal =>
      import org.apache.spark.sql.types.{DateType, StringType, TimestampNTZType, TimestampType}
      (lit.value, lit.dataType) match {
        case (micros: java.lang.Long, _: TimestampType) =>
          Math.floorDiv(micros, 1000L)
        // NTZ micros read as UTC — the session zone this library pins
        case (micros: java.lang.Long, _: TimestampNTZType) =>
          Math.floorDiv(micros, 1000L)
        case (days: java.lang.Integer, _: DateType) =>
          days.toLong * 86400000L
        case (s, _: StringType) if s != null =>
          ManifestDataSource.parseMillis(what, s.toString)
        case (value, dt) => throw new IllegalArgumentException(
          s"$what on a manifest table needs a timestamp/" +
            s"date/string literal, got $value: ${dt.simpleString}")
      }
    case other => throw new IllegalArgumentException(
      s"$what on a manifest table must be a literal " +
        s"(no expression evaluation at parse time): ${other.sql}")
  }

  /** The path under an EXPLICIT `` `graft-manifest`.`/path` ``
    * multipart spelling (None for any other reference — a temp view
    * resolves through the catalog and must NOT be intercepted here).
    */
  private def directPath(u: UnresolvedRelation): Option[String] =
    u.multipartIdentifier match {
      case Seq(fmt, p) if fmt.equalsIgnoreCase(Format) ||
        fmt.equalsIgnoreCase("graft_manifest") => Some(p)
      case _ => None
    }

  /** Utility/ALTER target resolution: the explicit format spelling, or
    * a NAMED table under a configured graft catalog — the latter gated
    * on the table EXISTING, so a missing named table falls through to
    * the catalog's own TABLE_OR_VIEW_NOT_FOUND instead of a confusing
    * engine error from a command that cannot create it.
    */
  private def multipartManifestPath(spark: SparkSession,
                                    parts: Seq[String]): Option[String] =
    parts match {
      case Seq(fmt, p) if fmt.equalsIgnoreCase(Format) ||
        fmt.equalsIgnoreCase("graft_manifest") => Some(p)
      case _ => GraftCatalog.identPath(spark, parts)
        .filter(p => ManifestLake.currentVersion(spark, p).isDefined)
    }

  /** CREATE-family identifier resolution — exists-AGNOSTIC (the
    * statement's whole point may be to create the table).
    */
  private def identManifestPath(spark: SparkSession,
                                ident: LogicalPlan): Option[String] =
    ident match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
        u.nameParts match {
          case Seq(fmt, p) if fmt.equalsIgnoreCase(Format) ||
            fmt.equalsIgnoreCase("graft_manifest") => Some(p)
          case Seq(name) => GraftCatalog.currentIdentPath(spark, name)
          case parts => GraftCatalog.identPath(spark, parts)
        }
      case _ => None
    }

  /** CREATE/REPLACE TABLE spec validation: everything the manifest
    * cannot record refuses loudly; returns the declared CHECK
    * constraints and identity-partition column names.
    */
  private[etl] def validateCreateSpec(
      spec: UnresolvedTableSpec,
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform])
      : (Seq[(String, String)], Seq[String], Seq[String], Seq[String],
         Seq[String], Seq[(String, String)], Option[String]) = {
    // graft.* keys are ENGINE facts (the skipping/clustering
    // machinery, validated below); anything else is a USER property,
    // recorded verbatim. Unknown graft.* keys refuse — a key in the
    // engine namespace the engine cannot honor must never be silently
    // recorded.
    val known = Set("graft.statscols", "graft.bloomcols", "graft.clustercols",
      "graft.autocompact.targetfilebytes", "graft.autocompact.minnumfiles")
    val unknownGraft = spec.properties.keys.filter { k =>
      val lk = k.toLowerCase(java.util.Locale.ROOT)
      lk.startsWith("graft.") && !known.contains(lk)
    }
    require(unknownGraft.isEmpty,
      s"TBLPROPERTIES ${unknownGraft.mkString(", ")} are not supported on " +
        "manifest tables (recognized engine facts: graft.statsCols, " +
        "graft.bloomCols, graft.clusterCols — comma-separated column " +
        "lists — and graft.autoCompact.targetFileBytes / " +
        "graft.autoCompact.minNumFiles; non-graft keys store as user " +
        "properties)")
    // autoCompact VALUES pre-validate here, before any file lands: the
    // keys ride the userProps channel below (applied through
    // setTableProperties AFTER the creating write), and a bad value
    // failing there would leave a half-created table behind
    spec.properties.foreach { case (k, v0) =>
      k.toLowerCase(java.util.Locale.ROOT) match {
        case "graft.autocompact.targetfilebytes" =>
          require(scala.util.Try(v0.trim.toLong).toOption.exists(_ > 0),
            s"$k must be a positive byte count, got: $v0")
        case "graft.autocompact.minnumfiles" =>
          require(scala.util.Try(v0.trim.toInt).toOption.exists(_ >= 2),
            s"$k must be >= 2 (compacting one file is a rewrite, not a " +
              s"merge), got: $v0")
        case _ => ()
      }
    }
    // the autoCompact keys ride the userProps channel: CREATE applies
    // them through setTableProperties, the same validated path ALTER
    // takes — one validator, one store
    val userProps = spec.properties.toSeq.filter { case (k, _) =>
      val lk = k.toLowerCase(java.util.Locale.ROOT)
      (!lk.startsWith("graft.") || lk.startsWith("graft.autocompact.")) &&
        lk != "comment"
    }
    userProps.foreach { case (k, v2) =>
      require(!k.exists(c => c == '\t' || c == '\n' || c == '\r') &&
        !v2.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"table property $k must not contain tabs or newlines") }
    def propCols(name: String): Seq[String] = spec.properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) =>
        v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    }.getOrElse(Seq.empty)
    val statsCols = propCols("graft.statsCols")
    val bloomCols = propCols("graft.bloomCols")
    require(spec.provider.forall(p => p.equalsIgnoreCase(Format) ||
      p.equalsIgnoreCase("graft_manifest")),
      s"the graft-manifest namespace only creates graft-manifest tables " +
        s"(got USING ${spec.provider.get})")
    require(spec.optionExpression.options.isEmpty,
      "OPTIONS are not supported on manifest CREATE TABLE")
    require(spec.location.isEmpty,
      "LOCATION is not supported — a manifest table IS its path")
    spec.comment.foreach(t =>
      require(!t.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'),
        "a table COMMENT must not contain tabs or newlines"))
    require(spec.collation.isEmpty,
      "COLLATION is not supported on manifest tables (no store " +
        "— it would be silently lost)")
    require(spec.serde.isEmpty && !spec.external,
      "Hive serde / EXTERNAL are not supported on manifest tables")
    val cons = spec.constraints.map {
      case cc: CheckConstraint =>
        require(!cc.userProvidedCharacteristic.enforced.contains(false),
          "NOT ENFORCED constraints are not supported — manifest CHECK " +
            "constraints always enforce on write")
        cc.name -> cc.condition
      case other => throw new IllegalArgumentException(
        s"only CHECK constraints are supported on manifest tables, got $other")
    }
    // `CLUSTER BY (c1, c2)` parses as a ClusterByTransform riding the
    // partitioning list — split it out as the declared clustering keys
    // (Delta's liquid-clustering idiom: bare OPTIMIZE lays files out by
    // them); everything else must be an identity partition transform
    val (clusterT, partT) = partitioning.partition {
      case org.apache.spark.sql.connector.expressions.ClusterByTransform(_) => true
      case _ => false
    }
    val clusterCols = clusterT.flatMap {
      case org.apache.spark.sql.connector.expressions.ClusterByTransform(refs) =>
        refs.map { r =>
          require(r.fieldNames().length == 1,
            s"nested CLUSTER BY columns are not supported: " +
              s"${r.fieldNames().mkString(".")}")
          r.fieldNames().head
        }
    }
    require(clusterCols.isEmpty ||
        propCols("graft.clusterCols").isEmpty,
      "declare clustering keys ONCE — either CLUSTER BY or " +
        "TBLPROPERTIES ('graft.clusterCols'), not both")
    val partCols = partT.map { t =>
      require(t.name == "identity" && t.references().length == 1,
        s"unsupported partition transform $t — manifest tables " +
          "partition by identity columns (for derived partitioning, add a " +
          "GENERATED column via the Scala API)")
      val parts = t.references()(0).fieldNames()
      require(parts.length == 1,
        s"nested partition columns are not supported: ${parts.mkString(".")}")
      parts.head
    }
    // writeTo's tableProperty("comment") arrives as a property, the
    // SQL COMMENT clause as spec.comment — one effective value
    val comment = spec.comment.orElse(spec.properties.collectFirst {
      case (k, v2) if k.equalsIgnoreCase("comment") => v2 })
    (cons, partCols, statsCols, bloomCols,
      if (clusterCols.nonEmpty) clusterCols else propCols("graft.clusterCols"),
      userProps, comment)
  }

  /** Plain vs GENERATED column definitions. Generated columns must
    * TRAIL the plain ones (they append by construction), and generated
    * PARTITION columns must lead the generated trailer — they join the
    * schema at creation (the empty write needs the partition column
    * present; the engine then ADOPTS them, its spec'd
    * create-partitioned-then-declare flow), while the rest append
    * after, so any other order would silently permute the declared
    * columns.
    */
  private def splitColumns(cols: Seq[ColumnDefinition], partCols: Seq[String])
      : (org.apache.spark.sql.types.StructType,
         Seq[(String, org.apache.spark.sql.types.DataType, String)],
         Seq[(String, String)], Option[(String, Long, Long, Boolean)],
         Seq[(String, String)], Seq[(String, String)]) = {
    cols.foreach { c =>
      // column COMMENTs record as header facts; pre-validate the
      // charset here so an invalid one leaves no half-created table
      c.comment.foreach(t =>
        require(!t.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'),
          s"COMMENT on column ${c.name} must not contain tabs or newlines"))
      require(c.defaultValue.isEmpty || c.generationExpression.isEmpty,
        s"column ${c.name} cannot carry both DEFAULT and GENERATED")
      c.identityColumnSpec.foreach { spec =>
        require(c.dataType == org.apache.spark.sql.types.LongType,
          s"IDENTITY column ${c.name} must be BIGINT, got ${c.dataType.sql}")
        require(c.defaultValue.isEmpty && c.generationExpression.isEmpty,
          s"column ${c.name} cannot combine IDENTITY with DEFAULT/GENERATED")
        // declareIdentity refuses this POST-create — catching it here
        // keeps an invalid CREATE from leaving a half-created table
        require(!partCols.exists(_.equalsIgnoreCase(c.name)),
          s"IDENTITY column ${c.name} cannot be a partition column")
      }
    }
    val identities = cols.collect {
      case c if c.identityColumnSpec.isDefined =>
        (c.name, c.identityColumnSpec.get.getStart,
          c.identityColumnSpec.get.getStep,
          c.identityColumnSpec.get.isAllowExplicitInsert)
    }
    require(identities.size <= 1,
      s"at most one IDENTITY column per manifest table, got " +
        identities.map(_._1).mkString(", "))
    // CREATE-time column DEFAULTs: (name, original SQL) — literal-only,
    // validated by the engine before any file lands
    val defaults = cols.collect {
      case c if c.defaultValue.isDefined => c.name -> c.defaultValue.get.originalSQL
    }
    val genIdx = cols.indexWhere(_.generationExpression.isDefined)
    val (plain, gen) =
      if (genIdx < 0) (cols, Seq.empty[ColumnDefinition])
      else {
        require(cols.drop(genIdx).forall(_.generationExpression.isDefined),
          "GENERATED columns must be declared last on manifest tables " +
            "(they append after the plain columns)")
        (cols.take(genIdx), cols.drop(genIdx))
      }
    def isPart(c: ColumnDefinition): Boolean =
      partCols.exists(_.equalsIgnoreCase(c.name))
    val firstNonPartGen = gen.indexWhere(!isPart(_))
    if (firstNonPartGen >= 0)
      require(gen.drop(firstNonPartGen).forall(!isPart(_)),
        "generated PARTITION columns must be declared before other " +
          "generated columns (they join the schema at creation; later " +
          "generated columns append after)")
    // NOT NULL lowers to the reserved-name CHECK pair (GraftNotNull) —
    // enforcement rides the constraint machinery; the PHYSICAL field
    // stays nullable (added files validate pre-publish, not by parquet
    // schema nullability). Partition columns are exempt: hive layout
    // makes them non-null by construction.
    val nnCons = cols.collect {
      case c if !c.nullable && !partCols.exists(_.equalsIgnoreCase(c.name)) =>
        GraftNotNull.name(c.name) -> GraftNotNull.expr(c.name)
    }
    val comments = cols.collect {
      case c if c.comment.isDefined => c.name -> c.comment.get
    }
    (org.apache.spark.sql.types.StructType(plain.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType,
        c.nullable || !partCols.exists(_.equalsIgnoreCase(c.name))))),
      gen.map(c => (c.name, c.dataType, c.generationExpression.get)),
      defaults, identities.headOption, nnCons, comments)
  }

  /** The manifest path an ALTER TABLE target names — the multipart
    * `` `graft-manifest`.`/path` `` spelling or a temp view over the
    * source (resolved to its table path, same stance as DML targets).
    */
  private def alterTargetPath(spark: SparkSession,
                              t: LogicalPlan): Option[String] =
    t match {
      case ut: UnresolvedTable =>
        multipartManifestPath(spark, ut.multipartIdentifier).orElse(
          ut.multipartIdentifier match {
            case Seq(name) => tempViewManifestPath(spark, name)
              .orElse(if (shadowedByTempView(spark, name)) None
                else GraftCatalog.currentIdentPath(spark, name)
                  .filter(p => ManifestLake.currentVersion(spark, p).isDefined))
            case _ => None
          })
      case _ => None
    }

  /** Table-only utility targets (TRUNCATE, SHOW PARTITIONS): the same
    * resolution as ALTER — multipart spelling or temp view (Spark would
    * refuse a view for these commands anyway, so interception cannot
    * shadow native behavior).
    */
  private def utilTargetPath(spark: SparkSession,
                             t: LogicalPlan): Option[String] =
    alterTargetPath(spark, t)

  /** Rewrite a parsed statement into a manifest DML command when (and
    * only when) its target is a manifest table.
    */
  def rewrite(spark: SparkSession, plan: LogicalPlan): Option[LogicalPlan] =
    plan match {
      case DeleteFromTable(table, condition) =>
        targetPath(spark, table).map { case (path, quals) =>
          GraftDeleteCommand(path, SqlExprHolder(stripQualifier(condition, quals)))
        }
      case UpdateTable(table, assignments, condition) =>
        targetPath(spark, table).map { case (path, quals) =>
          val set = assignments.map { a =>
            (attrName(a.key, quals), SqlExprHolder(stripQualifier(a.value, quals)))
          }
          GraftUpdateCommand(path, set,
            condition.map(c => SqlExprHolder(stripQualifier(c, quals))))
        }
      case i: InsertIntoStatement =>
        targetPath(spark, i.table).map { case (path, _) =>
          require(!i.ifPartitionNotExists,
            "INSERT … IF NOT EXISTS is not supported on manifest tables")
          GraftInsertCommand(path, i.query, i.overwrite, i.byName,
            i.userSpecifiedCols,
            i.partitionSpec.collect { case (k, Some(value)) => (k, value) }.toSeq,
            partSpecified = i.partitionSpec.nonEmpty)
        }
      // ---- ALTER TABLE: schema surgery through the engine's
      // metadata-only ops. Each supported shape maps 1:1; anything the
      // engine cannot honor exactly (nested adds, positions, defaults,
      // comments, NOT NULL, non-widening type changes, NOT ENFORCED)
      // refuses loudly — never a silently dropped clause.
      case AddColumns(t, cols) =>
        alterTargetPath(spark, t).map { path =>
          val adds = cols.map { c =>
            require(c.position.isEmpty,
              "ADD COLUMN ... FIRST/AFTER is not supported — manifest " +
                "columns append at the end")
            require(c.default.isEmpty,
              "ADD COLUMN ... DEFAULT is not supported on manifest tables")
            c.comment.foreach(t =>
              require(!t.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'),
                s"COMMENT on column ${c.colName} must not contain tabs " +
                  "or newlines"))
            require(c.nullable,
              s"added column ${c.colName} must be nullable — existing " +
                "files carry no values for it")
            // a dotted path adds a field INSIDE a struct/array<struct>
            // — the engine's metadata-only nested add (round 17)
            val full = (c.path.map(_.name).getOrElse(Seq.empty) :+ c.colName)
              .mkString(".")
            require(c.comment.isEmpty || !full.contains('.'),
              "COMMENT on a nested field is not supported")
            ((full, c.dataType), c.comment.map(full -> _))
          }
          GraftAlterCommand(path,
            AlterAddCols(adds.map(_._1), adds.flatMap(_._2)))
        }
      case RenameColumn(t, field, newName) =>
        alterTargetPath(spark, t).map(path =>
          GraftAlterCommand(path,
            AlterRenameCol(field.name.mkString("."), newName)))
      case DropColumns(t, fields, ifExists) =>
        alterTargetPath(spark, t).map(path =>
          GraftAlterCommand(path,
            AlterDropCols(fields.map(_.name.mkString(".")), ifExists)))
      case AlterColumns(t, specs) =>
        alterTargetPath(spark, t).map { path =>
          specs.foreach(s => require(s.newPosition.isEmpty,
            "ALTER COLUMN ... FIRST/AFTER is not supported — manifest " +
              "columns keep their recorded order"))
          val (commentish, rest0) = specs.partition(_.newComment.isDefined)
          require(commentish.isEmpty || rest0.isEmpty,
            "mixing COMMENT changes with other ALTER COLUMN changes in one " +
              "statement is not supported on manifest tables — run them " +
              "as separate statements")
          val (nullish, rest) = rest0.partition(_.newNullability.isDefined)
          require(nullish.isEmpty || rest.isEmpty,
            "mixing NOT NULL changes with TYPE/DEFAULT changes in one " +
              "ALTER COLUMN statement is not supported on manifest tables " +
              "— run them as separate statements")
          if (commentish.nonEmpty) {
            val changes = commentish.map { sp =>
              require(sp.column.name.length == 1,
                s"COMMENT on a nested field is not supported: " +
                  s"${sp.column.name.mkString(".")}")
              sp.column.name.head -> sp.newComment.get
            }
            GraftAlterCommand(path, AlterColComments(changes))
          } else {
          val (defaultish, widenish) =
            rest.partition(s => s.newDefaultExpression.isDefined || s.dropDefault)
          require(defaultish.isEmpty || widenish.isEmpty,
            "mixing TYPE changes and DEFAULT changes in one ALTER COLUMN " +
              "statement is not supported on manifest tables — run them " +
              "as separate statements")
          if (nullish.nonEmpty) {
            val changes = nullish.map { s =>
              require(s.newDataType.isEmpty && s.newDefaultExpression.isEmpty &&
                !s.dropDefault,
                "combine NOT NULL and TYPE/DEFAULT changes as separate " +
                  "statements")
              require(s.column.name.length == 1,
                s"NOT NULL on a nested field is not supported: " +
                  s"${s.column.name.mkString(".")}")
              (s.column.name.head, !s.newNullability.get)
            }
            GraftAlterCommand(path, AlterNotNull(changes))
          } else if (defaultish.nonEmpty) {
            val changes = defaultish.map { s =>
              require(s.newDataType.isEmpty,
                "combine TYPE and DEFAULT changes as separate statements")
              require(s.column.name.length == 1,
                s"DEFAULT on a nested field is not supported: " +
                  s"${s.column.name.mkString(".")}")
              (s.column.name.head, s.newDefaultExpression.map(_.originalSQL))
            }
            GraftAlterCommand(path, AlterSetDefaults(changes))
          } else {
            val widens = widenish.map { s =>
              require(s.newDataType.isDefined,
                "ALTER COLUMN on a manifest table supports TYPE widening " +
                  "and SET/DROP DEFAULT only")
              (s.column.name.mkString("."), s.newDataType.get)
            }
            GraftAlterCommand(path, AlterWidenCols(widens))
          }
          }
        }
      // ---- SET/UNSET TBLPROPERTIES: the two mutable header facts the
      // engine honors (graft.statsCols / graft.bloomCols) flip on a
      // LIVE table — CREATE is no longer the only place to declare the
      // skipping machinery; ANALYZE backfills after a late SET. Unknown
      // keys refuse loudly inside the engine (never silently recorded).
      case org.apache.spark.sql.catalyst.plans.logical.SetTableProperties(t, props) =>
        alterTargetPath(spark, t).map(path =>
          GraftSetPropertiesCommand(path, props, Seq.empty, unsetIfExists = false))
      // ---- COMMENT ON TABLE t IS 'text' | NULL: the table comment as
      // a header fact (IS NULL drops it)
      // Spark's parser renders `IS NULL` as the empty string — both
      // spellings drop the comment (an empty comment stores nothing)
      case org.apache.spark.sql.catalyst.plans.logical.CommentOnTable(t, text) =>
        alterTargetPath(spark, t).map(path =>
          GraftCommentCommand(path, Option(text).filter(_.nonEmpty)))
      case org.apache.spark.sql.catalyst.plans.logical.UnsetTableProperties(t, keys, ifExists) =>
        alterTargetPath(spark, t).map(path =>
          GraftSetPropertiesCommand(path, Map.empty, keys, unsetIfExists = ifExists))
      // ---- CREATE TABLE / CTAS / REPLACE TABLE on the multipart
      // spelling: the table IS its path (no catalog entry) — creation
      // writes the v1 manifest; IF NOT EXISTS no-ops against an
      // existing one; REPLACE requires one unless OR CREATE. CHECK
      // constraints in the definition register after the write;
      // GENERATED ALWAYS AS columns must trail the plain ones (they
      // append by construction). Properties/options/LOCATION/COMMENT/
      // EXTERNAL/serde — anything the manifest cannot record — refuse.
      case CreateTable(ident, cols, partitioning, spec: UnresolvedTableSpec,
          ignoreIfExists) =>
        identManifestPath(spark, ident).map { path =>
          val (cons, partCols, stCols, blCols, clCols, uProps, tComment) =
            validateCreateSpec(spec, partitioning)
          val (plain, gen, defs, identity, nnCons, colComments) =
            splitColumns(cols, partCols)
          nnCons.foreach { case (n, _) =>
            require(!cons.exists(_._1 == n),
              s"CHECK constraint $n collides with the reserved NOT NULL " +
                "lowering name — rename the constraint") }
          // pre-validate CLUSTER BY against the DECLARED columns — an
          // invalid key must leave no half-created table
          clCols.foreach { c =>
            require(cols.exists(_.name.equalsIgnoreCase(c)),
              s"CLUSTER BY column $c is not a declared column " +
                s"(columns: ${cols.map(_.name).mkString(", ")})")
            require(!partCols.exists(_.equalsIgnoreCase(c)),
              s"CLUSTER BY column $c is a partition column — partitions " +
                "lay out by directory; cluster on data columns") }
          GraftCreateTableCommand(path, CreateEmpty(plain, ignoreIfExists),
            gen, partCols, cons ++ nnCons, stCols, blCols, defs, identity,
            clCols, tComment, colComments, uProps)
        }
      case CreateTableAsSelect(ident, partitioning, query,
          spec: UnresolvedTableSpec, writeOptions, ignoreIfExists, _) =>
        identManifestPath(spark, ident).map { path =>
          require(writeOptions.isEmpty,
            "write options are not supported on manifest CTAS")
          val (cons, partCols, stCols, blCols, clCols, uProps, tComment) =
            validateCreateSpec(spec, partitioning)
          GraftCreateTableCommand(path, CreateAsSelect(query, ignoreIfExists),
            Seq.empty, partCols, cons, stCols, blCols,
            clusterCols = clCols, tableComment = tComment,
            userProps = uProps)
        }
      case ReplaceTableAsSelect(ident, partitioning, query,
          spec: UnresolvedTableSpec, writeOptions, orCreate, _) =>
        identManifestPath(spark, ident).map { path =>
          require(writeOptions.isEmpty,
            "write options are not supported on manifest REPLACE TABLE")
          val (cons, partCols, stCols, blCols, clCols, uProps, tComment) =
            validateCreateSpec(spec, partitioning)
          GraftCreateTableCommand(path, ReplaceAsSelect(query, orCreate),
            Seq.empty, partCols, cons, stCols, blCols,
            clusterCols = clCols, tableComment = tComment,
            userProps = uProps)
        }
      // ---- ANALYZE TABLE: metadata-only stats backfill through the
      // engine — bounds/null-counts/value-sets for live files missing
      // them, no data rewrite; the columns join the sticky declared set
      case AnalyzeTable(t: UnresolvedTableOrView, partitionSpec, noScan)
          if multipartManifestPath(spark, t.multipartIdentifier).isDefined =>
        require(partitionSpec.isEmpty,
          "ANALYZE ... PARTITION is not supported on manifest tables — " +
            "stats are per-file; analyze the whole table")
        require(!noScan,
          "ANALYZE ... NOSCAN has nothing to compute on a manifest table " +
            "— row counts already ride every commit's parquet footers")
        Some(GraftAnalyzeCommand(
          multipartManifestPath(spark, t.multipartIdentifier).get, Seq.empty))
      case AnalyzeColumn(t: UnresolvedTableOrView, columnNames, allColumns)
          if multipartManifestPath(spark, t.multipartIdentifier).isDefined =>
        require(!allColumns,
          "ANALYZE ... FOR ALL COLUMNS is not supported — name the " +
            "columns (partition columns prune by directory, not stats)")
        Some(GraftAnalyzeCommand(
          multipartManifestPath(spark, t.multipartIdentifier).get,
          columnNames.getOrElse(Seq.empty)))
      case ShowTableProperties(t: UnresolvedTableOrView, key, _)
          if multipartManifestPath(spark, t.multipartIdentifier).isDefined =>
        Some(GraftShowPropertiesCommand(
          multipartManifestPath(spark, t.multipartIdentifier).get, key))
      // ---- table utilities: TRUNCATE, SHOW PARTITIONS/COLUMNS,
      // DESCRIBE — served straight from the manifest (metadata-only;
      // TRUNCATE dispatches to the engine's delete). DESCRIBE/SHOW on
      // a TEMP VIEW name is NOT intercepted — Spark serves views
      // natively; only the multipart format spelling (which Spark's
      // catalog cannot resolve) and, for table-only commands, the
      // view-name-as-table spelling dispatch here.
      case TruncateTable(t) =>
        utilTargetPath(spark, t).map(path =>
          GraftTruncateCommand(path, Seq.empty))
      case TruncatePartition(t, spec: UnresolvedPartitionSpec) =>
        utilTargetPath(spark, t).map { path =>
          require(spec.location.isEmpty,
            "TRUNCATE ... PARTITION with a LOCATION is not supported on " +
              "manifest tables")
          GraftTruncateCommand(path, spec.spec.toSeq)
        }
      case ShowPartitions(t, specOpt, _) =>
        utilTargetPath(spark, t).map { path =>
          val spec = specOpt.toSeq.flatMap {
            case u: UnresolvedPartitionSpec => u.spec.toSeq
            case other => throw new IllegalArgumentException(
              s"unsupported partition spec: $other")
          }
          GraftShowPartitionsCommand(path, spec)
        }
      case DescribeRelation(t: UnresolvedTableOrView, partitionSpec, isExtended, _)
          if multipartManifestPath(spark, t.multipartIdentifier).isDefined =>
        require(partitionSpec.isEmpty,
          "DESCRIBE ... PARTITION is not supported on manifest tables — " +
            "use SHOW PARTITIONS")
        Some(GraftDescribeCommand(
          multipartManifestPath(spark, t.multipartIdentifier).get, isExtended))
      case org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable(
          t: UnresolvedTableOrView, asSerde, _)
          if multipartManifestPath(spark, t.multipartIdentifier).isDefined =>
        require(!asSerde,
          "SHOW CREATE TABLE ... AS SERDE is not supported on manifest " +
            "tables (no Hive serde form exists)")
        Some(GraftShowCreateCommand(
          multipartManifestPath(spark, t.multipartIdentifier).get))
      case ShowColumns(t: UnresolvedTableOrView, ns, _)
          if multipartManifestPath(spark, t.multipartIdentifier).isDefined =>
        require(ns.isEmpty || ns.exists(n =>
          n.lastOption.exists(_.equalsIgnoreCase(Format)) ||
            n.lastOption.exists(_.equalsIgnoreCase("graft_manifest"))),
          "SHOW COLUMNS ... IN <namespace> must name the graft-manifest " +
            "namespace or be omitted")
        Some(GraftShowColumnsCommand(
          multipartManifestPath(spark, t.multipartIdentifier).get))
      // the parsed constraint carries its table as an UnresolvedRelation
      // under a NOT(condition) Filter (the would-be-violations scan)
      case AddCheckConstraint(child, cc: CheckConstraint) =>
        child.collectFirst { case u: UnresolvedRelation => u }
          .flatMap(targetPath(spark, _)).map(_._1).map { path =>
            require(!cc.userProvidedCharacteristic.enforced.contains(false),
              "NOT ENFORCED constraints are not supported — manifest " +
                "CHECK constraints always enforce on write")
            GraftAlterCommand(path,
              AlterAddConstraint(cc.name, cc.condition))
          }
      case DropConstraint(t, name, ifExists, cascade) =>
        alterTargetPath(spark, t).map { path =>
          require(!cascade,
            "DROP CONSTRAINT ... CASCADE is not supported — manifest " +
              "constraints have no dependents")
          GraftAlterCommand(path, AlterDropConstraint(name, ifExists))
        }
      case m: MergeIntoTable =>
        targetPath(spark, m.targetTable).map { case (path, tQuals) =>
          val (sourcePlan, sQuals) = m.sourceTable match {
            case SubqueryAlias(ident, _) =>
              (m.sourceTable, Set(ident.name.toLowerCase))
            case r: UnresolvedRelation =>
              (m.sourceTable, Set(r.multipartIdentifier.last.toLowerCase))
            case other => (other, Set.empty[String])
          }
          def q(e: Expression): Expression = requalify(e, tQuals, sQuals)
          val keys = keyColsOf(m.mergeCondition, tQuals, sQuals)
          GraftMergeCommand(path, sourcePlan, keys.map(_._1),
            plainEqKeys = keys.collect { case (k, false) => k },
            matched = m.matchedActions.map(translateAction(_, tQuals, sQuals, q)),
            notMatched = m.notMatchedActions.map(translateAction(_, tQuals, sQuals, q)),
            notMatchedBySource =
              m.notMatchedBySourceActions.map(translateAction(_, tQuals, sQuals, q)),
            schemaEvolution = m.withSchemaEvolution)
        }
      case _ => None
    }

  // ---- expression surgery ------------------------------------------

  /** `alias.col…` → `col…` for references qualified by the target's
    * alias/name — the engine evaluates DELETE/UPDATE expressions
    * against the bare logical view, where the SQL alias does not exist.
    */
  /** Longest qualifier PREFIX of `parts` that appears in `quals`
    * (dotted entries allowed — a NAMED table qualifies references as
    * t.col, ns.t.col, or cat.ns.t.col), leaving at least one part.
    */
  private def qualPrefixLen(parts: Seq[String], quals: Set[String]): Int =
    (math.min(3, parts.length - 1) to 1 by -1).find(n =>
      quals.contains(parts.take(n).mkString(".").toLowerCase)).getOrElse(0)

  private def stripQualifier(e: Expression, quals: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if qualPrefixLen(a.nameParts, quals) > 0 =>
        UnresolvedAttribute(a.nameParts.drop(qualPrefixLen(a.nameParts, quals)))
    }

  /** Requalify `targetAlias.x` → `t.x` and `sourceAlias.x` → `s.x` —
    * the engine's classify join exposes the two sides under the fixed
    * aliases `t` and `s`.
    */
  private def requalify(e: Expression, tQuals: Set[String],
                        sQuals: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if qualPrefixLen(a.nameParts, tQuals) > 0 =>
        UnresolvedAttribute("t" +: a.nameParts.drop(qualPrefixLen(a.nameParts, tQuals)))
      case a: UnresolvedAttribute if qualPrefixLen(a.nameParts, sQuals) > 0 =>
        UnresolvedAttribute("s" +: a.nameParts.drop(qualPrefixLen(a.nameParts, sQuals)))
    }

  /** An assignment key as a bare column name (alias stripped, nested
    * parts kept — the engine validates nested targets itself).
    */
  private def attrName(key: Expression, quals: Set[String]): String =
    key match {
      case a: UnresolvedAttribute =>
        val parts =
          if (a.nameParts.length > 1 && quals.contains(a.nameParts.head.toLowerCase))
            a.nameParts.tail
          else a.nameParts
        parts.mkString(".")
      case other => throw new IllegalArgumentException(
        s"SET target must be a column reference, got ${other.sql}")
    }

  /** Merge keys from the ON condition: a conjunction of
    * `t.col = s.col` equalities over identically-named columns —
    * anything else refuses with the reason (the manifest merge is
    * keyed; residual predicates belong in clause conditions). The
    * spelling is preserved per key: `=` carries standard SQL
    * semantics (a NULL key matches nothing), `<=>` opts into
    * null-safe matching (NULL matches NULL) — the engine joins each
    * key accordingly, so the two spellings diverge exactly where SQL
    * says they do. Returns (column, spelledNullSafe) pairs.
    */
  private def keyColsOf(on: Expression, tQuals: Set[String],
                        sQuals: Set[String]): Seq[(String, Boolean)] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    def side(e: Expression): Option[(Boolean, Seq[String])] = e match {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
        tQuals.contains(a.nameParts.head.toLowerCase) =>
        Some((true, a.nameParts.tail))
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
        sQuals.contains(a.nameParts.head.toLowerCase) =>
        Some((false, a.nameParts.tail))
      case _ => None
    }
    split(on).map { conj =>
      val pair = conj match {
        case EqualTo(l, r) => Some((l, r, false))
        case EqualNullSafe(l, r) => Some((l, r, true))
        case _ => None
      }
      val key = pair.flatMap { case (l, r, nullSafe) =>
        (side(l), side(r)) match {
          case (Some((true, tn)), Some((false, sn)))
            if tn.map(_.toLowerCase) == sn.map(_.toLowerCase) && tn.length == 1 =>
            Some((tn.head, nullSafe))
          case (Some((false, sn)), Some((true, tn)))
            if tn.map(_.toLowerCase) == sn.map(_.toLowerCase) && tn.length == 1 =>
            Some((tn.head, nullSafe))
          case _ => None
        }
      }
      key.getOrElse(throw new IllegalArgumentException(
        s"manifest MERGE needs an ON condition that is a conjunction of " +
          s"t.col = s.col equalities on identically-named columns; " +
          s"`${conj.sql}` is not one (qualify both sides with the target/" +
          "source aliases; put residual predicates in WHEN … AND conditions)"))
    }
  }

  private def translateAction(a: MergeAction, tQuals: Set[String],
                              sQuals: Set[String],
                              q: Expression => Expression): SqlMergeClause =
    a match {
      case UpdateStarAction(cond) =>
        SqlMergeClause("update", cond.map(c => SqlExprHolder(q(c))), None)
      case UpdateAction(cond, assignments, _) =>
        SqlMergeClause("update", cond.map(c => SqlExprHolder(q(c))),
          Some(assignments.map(as =>
            (attrName(as.key, tQuals), SqlExprHolder(q(as.value))))))
      case DeleteAction(cond) =>
        SqlMergeClause("delete", cond.map(c => SqlExprHolder(q(c))), None)
      case InsertStarAction(cond) =>
        SqlMergeClause("insert", cond.map(c => SqlExprHolder(q(c))), None)
      case InsertAction(cond, assignments) =>
        SqlMergeClause("insert", cond.map(c => SqlExprHolder(q(c))),
          Some(assignments.map(as =>
            (attrName(as.key, tQuals), SqlExprHolder(q(as.value))))))
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE action on a manifest table: $other")
    }
}

/** An expression carried OPAQUELY through a command plan: the DML
  * commands hold parser output that resolves against the ENGINE's
  * frames (the logical table view, the t/s classify join), not against
  * the command's (empty) children — a bare `Expression` constructor
  * arg would be collected into `QueryPlan.expressions` and fail
  * analysis as unresolved. The holder is invisible to the traversal.
  */
final case class SqlExprHolder(expr: Expression)

/** A translated WHEN clause, catalyst-typed (expressions stay
  * unresolved until the engine applies them to its frames).
  */
final case class SqlMergeClause(kind: String, condition: Option[SqlExprHolder],
                                assignments: Option[Seq[(String, SqlExprHolder)]]) {
  def toEngine: ManifestLake.MergeClause = {
    def cond = condition.map(h => SparkShims.column(h.expr))
    def sets = assignments.map(_.map { case (n, h) => n -> SparkShims.column(h.expr) })
    kind match {
      case "update" => ManifestLake.MergeUpdate(cond, sets)
      case "delete" => ManifestLake.MergeDelete(cond)
      case _ => ManifestLake.MergeInsert(cond, sets)
    }
  }
}

/** `DELETE FROM <manifest table> WHERE …` — dispatches to
  * [[ManifestLake.delete]], returns the published version.
  */
final case class GraftDeleteCommand(path: String, condition: SqlExprHolder)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = ManifestLake.delete(spark, path, SparkShims.column(condition.expr))
    Seq(Row(v))
  }
}

/** `UPDATE <manifest table> SET … [WHERE …]` — dispatches to
  * [[ManifestLake.update]], returns the published version. A missing
  * WHERE updates every row (standard SQL).
  */
final case class GraftUpdateCommand(path: String,
                                    set: Seq[(String, SqlExprHolder)],
                                    condition: Option[SqlExprHolder])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val cond = condition.map(h => SparkShims.column(h.expr))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val v = ManifestLake.update(spark, path, cond,
      set.map { case (n, h) => n -> SparkShims.column(h.expr) }.toMap)
    Seq(Row(v))
  }
}

/** `MERGE INTO <manifest table> …` — dispatches to
  * [[ManifestLake.mergeClauses]] with the statement's exact clause
  * order; returns (version, updated, deleted, inserted). The source
  * sub-plan (table, view, subquery, VALUES) executes as a DataFrame;
  * the table's recorded partitioning supplies the engine's partition
  * columns. `plainEqKeys` are the keys the ON condition spelled with
  * `=` (standard semantics: a NULL key matches nothing); the rest
  * were spelled `<=>` and match null-safely.
  *
  * `WITH SCHEMA EVOLUTION` (`schemaEvolution = true`): every source
  * column absent from the table is folded into the merge's OWN commit
  * as a metadata-only nullable add ([[ManifestLake.evolveSchemaFor]]),
  * so `SET *` / `INSERT *` carry the new columns through and untouched
  * target rows serve NULL for them. The evolution and the merged files
  * publish ATOMICALLY in one version: a merge that fails (duplicate
  * keys, constraint violation, lost race) leaves NO schema residue,
  * and concurrent readers never observe an evolved-but-unmerged
  * intermediate schema. Re-TYPED existing columns still refuse (the
  * merge never widens a type).
  */
final case class GraftMergeCommand(path: String, sourcePlan: LogicalPlan,
                                   keyCols: Seq[String],
                                   plainEqKeys: Seq[String],
                                   matched: Seq[SqlMergeClause],
                                   notMatched: Seq[SqlMergeClause],
                                   notMatchedBySource: Seq[SqlMergeClause],
                                   schemaEvolution: Boolean = false)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(sourcePlan)
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("updated", LongType, nullable = false)(),
    AttributeReference("deleted", LongType, nullable = false)(),
    AttributeReference("inserted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val partCols = ManifestLake.recordedPartitionCols(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no manifested table at $path (MERGE needs an existing table)"))
    val source = SparkShims.ofRows(spark, sourcePlan)
    val st = ManifestLake.mergeClauses(spark, path, source, partCols, keyCols,
      matched = matched.map(_.toEngine),
      notMatched = notMatched.map(_.toEngine),
      notMatchedBySource = notMatchedBySource.map(_.toEngine),
      plainEqKeys = plainEqKeys.toSet,
      evolveWith = if (schemaEvolution) Some(source.schema) else None)
    Seq(Row(st.version, st.updated, st.deleted, st.inserted))
  }
}

/** One translated ALTER TABLE operation (expressions/types already
  * extracted — the command is a pure dispatch).
  */
/** NOT NULL as DDL sugar over the CHECK machinery: `col T NOT NULL`
  * lowers to a reserved-name CHECK constraint (`graft_nn_<col>` →
  * `` `col` IS NOT NULL ``) so enforcement rides the exact pre-publish
  * validation every constraint gets — existing-row scan on declare,
  * per-batch violation counts on write, carried by compaction/restore.
  * SHOW CREATE / DESCRIBE recognize the lowered pair and render it
  * back as NOT NULL (and never as a CONSTRAINT line, keeping the
  * emitted DDL runnable); a hand-declared CHECK with a different name
  * stays a CHECK. Partition columns are exempt (non-null by layout).
  */
private[etl] object GraftNotNull {
  def name(col: String): String = s"graft_nn_$col"
  def expr(col: String): String =
    "`" + col.replace("`", "``") + "` IS NOT NULL"
  /** Is this recorded (name, expression) pair the lowering of
    * `NOT NULL` on `col`? Both halves must match — a user constraint
    * that merely reuses the name renders as the CHECK it is.
    */
  def isLowered(col: String, n: String, e: String): Boolean =
    n == name(col) && e == expr(col)
}

sealed trait GraftAlterOp
final case class AlterAddCols(cols: Seq[(String, org.apache.spark.sql.types.DataType)],
                              comments: Seq[(String, String)] = Seq.empty) extends GraftAlterOp
final case class AlterRenameCol(from: String, to: String) extends GraftAlterOp
final case class AlterDropCols(cols: Seq[String], ifExists: Boolean) extends GraftAlterOp
final case class AlterWidenCols(cols: Seq[(String, org.apache.spark.sql.types.DataType)]) extends GraftAlterOp
final case class AlterSetDefaults(changes: Seq[(String, Option[String])]) extends GraftAlterOp
final case class AlterAddConstraint(name: String, conditionSql: String) extends GraftAlterOp
final case class AlterDropConstraint(name: String, ifExists: Boolean) extends GraftAlterOp
final case class AlterNotNull(changes: Seq[(String, Boolean)]) extends GraftAlterOp
final case class AlterColComments(changes: Seq[(String, String)]) extends GraftAlterOp

/** `ALTER TABLE <manifest table> …` — dispatches to the engine's
  * metadata-only schema ops (ADD/RENAME/DROP COLUMN, ALTER COLUMN TYPE
  * widening, ADD/DROP CONSTRAINT); returns the published version. A
  * multi-column statement commits one version per column, in statement
  * order — each op is its own atomic, retryable commit.
  */
final case class GraftAlterCommand(path: String, op: GraftAlterOp)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    def head(): Long = ManifestLake.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no manifested table at $path (ALTER TABLE needs an existing table)"))
    val v = op match {
      case AlterAddCols(cols, comments) =>
        // pre-validate the WHOLE list before the first commit — each
        // column is its own atomic version, and a bad second name must
        // not leave the statement half-applied (validateOnly runs the
        // full admission checks, top-level AND nested, against one
        // snapshot)
        require(cols.map(_._1.toLowerCase).distinct.size == cols.size,
          "ADD COLUMNS names a column twice")
        cols.foreach { case (n, dt) =>
          ManifestLake.addColumn(spark, path, n, dt, validateOnly = true) }
        val vAdd = cols.map { case (n, dt) =>
          ManifestLake.addColumn(spark, path, n, dt) }.last
        if (comments.isEmpty) vAdd
        else ManifestLake.setComments(spark, path,
          cols = comments.map { case (n, t) => n -> Some(t) }.toMap)
      case AlterRenameCol(from, to) =>
        ManifestLake.renameColumn(spark, path, from, to)
      case AlterDropCols(cols, ifExists) =>
        val (fs, root) = ManifestLake.fsFor(spark, path)
        val logical = ManifestLake.logicalSchemaOf(
          ManifestLake.readManifest(fs, root, head()))
        // a dotted name whose ROOT is a column targets a NESTED field —
        // claimed here, deep-validated by the engine's validateOnly pass
        val (present, absent) = cols.partition(c =>
          logical.fieldNames.exists(_.equalsIgnoreCase(c)) ||
            (c.contains('.') && logical.fieldNames.exists(
              _.equalsIgnoreCase(c.takeWhile(_ != '.')))))
        require(absent.isEmpty || ifExists,
          s"no column ${absent.mkString(", ")} on the table at $path " +
            s"(columns: ${logical.fieldNames.mkString(", ")}); " +
            "use DROP COLUMN IF EXISTS to skip silently")
        // pre-validate the whole list before the first commit — a bad
        // second entry (unknown nested path, last field of its struct)
        // must not leave the statement half-applied
        present.foreach(c =>
          ManifestLake.dropColumn(spark, path, c, validateOnly = true))
        if (present.isEmpty) head()
        else present.map(c => ManifestLake.dropColumn(spark, path, c)).last
      case AlterWidenCols(cols) =>
        // pre-validate the WHOLE list before the first commit (mirror
        // of the AlterAddCols pre-check): each column is its own
        // atomic version, and an inadmissible second widen must not
        // leave the statement half-applied. Duplicate targets refuse
        // outright — the second widen would validate against the
        // pre-statement type but execute against the widened one.
        require(cols.map(_._1.toLowerCase).distinct.size == cols.size,
          "ALTER COLUMN names a column twice")
        cols.foreach { case (n, dt) =>
          ManifestLake.widenColumnType(spark, path, n, dt,
            validateOnly = true) }
        cols.map { case (n, dt) =>
          ManifestLake.widenColumnType(spark, path, n, dt) }.last
      case AlterSetDefaults(changes) =>
        require(changes.map(_._1.toLowerCase).distinct.size == changes.size,
          "ALTER COLUMN names a column twice")
        changes.map { case (n, d) =>
          ManifestLake.setColumnDefault(spark, path, n, d) }.last
      case AlterAddConstraint(name, sql) =>
        ManifestLake.addConstraint(spark, path, name, sql)
      case AlterDropConstraint(name, ifExists) =>
        val (fs, root) = ManifestLake.fsFor(spark, path)
        val m = ManifestLake.readManifest(fs, root, head())
        if (!m.constraints.contains(name) && ifExists) head()
        else ManifestLake.dropConstraint(spark, path, name)
      case AlterNotNull(changes) =>
        require(changes.map(_._1.toLowerCase).distinct.size == changes.size,
          "ALTER COLUMN names a column twice")
        val (fs, root) = ManifestLake.fsFor(spark, path)
        val m = ManifestLake.readManifest(fs, root, head())
        val logical = ManifestLake.logicalSchemaOf(m)
        // pre-validate the WHOLE list before the first commit — each
        // change is its own atomic version, and a bad second column
        // must not leave the statement half-applied
        changes.foreach { case (c, makeNotNull) =>
          val col = logical.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"no column $c on the table at $path " +
                s"(columns: ${logical.fieldNames.mkString(", ")})")).name
          if (makeNotNull) {
            require(!m.constraints.contains(GraftNotNull.name(col)),
              if (m.constraints.get(GraftNotNull.name(col))
                    .exists(e => GraftNotNull.isLowered(col, GraftNotNull.name(col), e)))
                s"column $col is already NOT NULL"
              else s"a CHECK constraint already claims the reserved name " +
                s"${GraftNotNull.name(col)} — drop it before declaring " +
                s"$col NOT NULL")
          } else {
            val e = m.constraints.get(GraftNotNull.name(col))
            require(e.exists(x => GraftNotNull.isLowered(col, GraftNotNull.name(col), x)),
              if (e.isDefined)
                s"constraint ${GraftNotNull.name(col)} on $path is a " +
                  "hand-declared CHECK, not a NOT NULL lowering — drop it " +
                  "by name with DROP CONSTRAINT"
              else s"column $col carries no NOT NULL")
          }
        }
        changes.map { case (c, makeNotNull) =>
          val col = logical.fields.find(_.name.equalsIgnoreCase(c)).get.name
          if (makeNotNull)
            ManifestLake.addConstraint(spark, path,
              GraftNotNull.name(col), GraftNotNull.expr(col))
          else
            ManifestLake.dropConstraint(spark, path, GraftNotNull.name(col))
        }.last
      case AlterColComments(changes) =>
        require(changes.map(_._1.toLowerCase).distinct.size == changes.size,
          "ALTER COLUMN names a column twice")
        ManifestLake.setComments(spark, path,
          cols = changes.map { case (c, t) => c -> Some(t) }.toMap)
    }
    Seq(Row(v))
  }
}

/** `ALTER TABLE <manifest table> SET/UNSET TBLPROPERTIES` — dispatches
  * to [[ManifestLake.setTableProperties]] (metadata-only commit);
  * returns the published version. The typical flow on a table created
  * without skipping machinery: SET TBLPROPERTIES ('graft.statsCols' =
  * 'c1,c2') → ANALYZE TABLE … FOR COLUMNS backfills existing files →
  * min/max skipping engages on the next query.
  */
final case class GraftSetPropertiesCommand(path: String,
                                           set: Map[String, String],
                                           unset: Seq[String],
                                           unsetIfExists: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestLake.setTableProperties(spark, path, set, unset,
      unsetIfExists)))
}

/** `COMMENT ON TABLE t IS 'text' | NULL` — set or drop the table
  * comment ([[ManifestLake.setComments]]); returns the head version.
  */
final case class GraftCommentCommand(path: String, text: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestLake.setComments(spark, path, table = Some(text))))
}

/** How a CREATE-family statement produces the table's first content. */
sealed trait GraftCreateMode
final case class CreateEmpty(schema: org.apache.spark.sql.types.StructType,
                             ignoreIfExists: Boolean) extends GraftCreateMode
final case class CreateAsSelect(query: LogicalPlan,
                                ignoreIfExists: Boolean) extends GraftCreateMode
final case class ReplaceAsSelect(query: LogicalPlan,
                                 orCreate: Boolean) extends GraftCreateMode

/** `CREATE TABLE` / `CREATE TABLE … AS SELECT` / `REPLACE TABLE … AS
  * SELECT` on the multipart spelling — the v1 (or replacing) manifest
  * commit, then GENERATED columns and CHECK constraints register in
  * declaration order. Returns the final published version.
  */
final case class GraftCreateTableCommand(path: String, mode: GraftCreateMode,
    generated: Seq[(String, org.apache.spark.sql.types.DataType, String)],
    partCols: Seq[String], checkConstraints: Seq[(String, String)],
    statsCols: Seq[String] = Seq.empty, bloomCols: Seq[String] = Seq.empty,
    defaults: Seq[(String, String)] = Seq.empty,
    identity: Option[(String, Long, Long, Boolean)] = None,
    clusterCols: Seq[String] = Seq.empty,
    tableComment: Option[String] = None,
    colComments: Seq[(String, String)] = Seq.empty,
    userProps: Seq[(String, String)] = Seq.empty)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = mode match {
    case CreateAsSelect(q, _) => Seq(q)
    case ReplaceAsSelect(q, _) => Seq(q)
    case _ => Seq.empty
  }
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val exists = ManifestLake.currentVersion(spark, path).isDefined
    // generated PARTITION columns must be IN the creating write's
    // schema (partitionBy needs them); the engine then ADOPTS them on
    // the empty table (its create-partitioned-then-declare flow).
    // Non-partition generated columns append after, as always.
    val genPartFields = generated.collect {
      case (n, dt, _) if partCols.exists(_.equalsIgnoreCase(n)) =>
        org.apache.spark.sql.types.StructField(n, dt, nullable = true)
    }
    // DEFAULTs pre-validate against the DECLARED types before any file
    // lands — an invalid default must leave no half-created table
    defaults.foreach { case (n, sql) =>
      val dt = (mode match {
        case CreateEmpty(schema, _) =>
          schema.fields.find(_.name.equalsIgnoreCase(n)).map(_.dataType)
        case _ => None
      }).getOrElse(throw new IllegalArgumentException(
        s"DEFAULT declared for unknown column $n"))
      ManifestLake.validateColumnDefault(spark, sql, dt, n): Unit
    }
    val base: Option[Long] = mode match {
      case CreateEmpty(schema, ignoreIfExists) =>
        if (exists) {
          require(ignoreIfExists, s"manifest table already exists at $path " +
            "(use CREATE TABLE IF NOT EXISTS, or REPLACE TABLE)")
          None
        } else Some(ManifestLake.write(spark,
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            org.apache.spark.sql.types.StructType(
              schema.fields ++ genPartFields)), path, partCols,
          statsCols = statsCols, bloomCols = bloomCols))
      case CreateAsSelect(query, ignoreIfExists) =>
        if (exists) {
          require(ignoreIfExists, s"manifest table already exists at $path " +
            "(use CREATE TABLE IF NOT EXISTS, or REPLACE TABLE)")
          None
        } else Some(ManifestLake.write(spark,
          SparkShims.ofRows(spark, query), path, partCols,
          statsCols = statsCols, bloomCols = bloomCols))
      case ReplaceAsSelect(query, orCreate) =>
        require(exists || orCreate,
          s"no manifest table at $path to replace (use CREATE OR REPLACE)")
        Some(ManifestLake.write(spark,
          SparkShims.ofRows(spark, query), path, partCols, replace = true,
          statsCols = statsCols, bloomCols = bloomCols))
    }
    val v = base match {
      case None => ManifestLake.currentVersion(spark, path).get // no-op path
      case Some(v0) =>
        val vg = generated.foldLeft(v0) { case (_, (n, dt, e)) =>
          ManifestLake.addGeneratedColumn(spark, path, n, dt, e) }
        val vc = checkConstraints.foldLeft(vg) { case (_, (n, e)) =>
          ManifestLake.addConstraint(spark, path, n, e) }
        val vd = defaults.foldLeft(vc) { case (_, (n, sql)) =>
          ManifestLake.setColumnDefault(spark, path, n, Some(sql)) }
        val vi = identity.map { case (n, start, step, byDefault) =>
          ManifestLake.declareIdentity(spark, path, n, start, step, byDefault)
        }.getOrElse(vd)
        val vcl =
          if (clusterCols.isEmpty) vi
          else ManifestLake.setTableProperties(spark, path,
            set = Map("graft.clusterCols" -> clusterCols.mkString(",")))
        val vup =
          if (userProps.isEmpty) vcl
          else ManifestLake.setTableProperties(spark, path,
            set = userProps.toMap)
        if (tableComment.isEmpty && colComments.isEmpty) vup
        else ManifestLake.setComments(spark, path,
          table = tableComment.map(Some(_)),
          cols = colComments.map { case (n, t) => n -> Some(t) }.toMap)
    }
    Seq(Row(v))
  }
}

/** `TRUNCATE TABLE …` (optionally `PARTITION (k=v, …)`) — all rows (or
  * the named partition's rows) delete through the engine; partition
  * predicates take its metadata-only fast path. Like Spark's own
  * TRUNCATE, returns no rows.
  */
final case class GraftTruncateCommand(path: String,
                                      partSpec: Seq[(String, String)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val partCols = ManifestLake.recordedPartitionCols(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no manifested table at $path (TRUNCATE needs an existing table)"))
    partSpec.foreach { case (k, _) =>
      require(partCols.exists(_.equalsIgnoreCase(k)),
        s"TRUNCATE ... PARTITION column $k is not a partition column " +
          s"(partitioned by: ${partCols.mkString(", ")})") }
    val pred =
      if (partSpec.isEmpty) lit(true)
      else partSpec.map { case (k, v) =>
        col(partCols.find(_.equalsIgnoreCase(k)).get).cast("string") === lit(v)
      }.reduce(_ && _)
    ManifestLake.delete(spark, path, pred): Unit
    Seq.empty
  }
}

/** `SHOW PARTITIONS …` — the live partition directories straight from
  * the manifest (one listing-free metadata read), optionally filtered
  * by a partial PARTITION spec; Hive's `k=v/k2=v2` path form, sorted.
  */
final case class GraftShowPartitionsCommand(path: String,
                                            spec: Seq[(String, String)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition",
      org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val (fs, root) = ManifestLake.fsFor(spark, path)
    val v = ManifestLake.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = ManifestLake.readManifest(fs, root, v)
    val partCols = ManifestLake.recordedPartitionCols(spark, path)
      .getOrElse(Seq.empty)
    require(partCols.nonEmpty,
      s"table at $path is not partitioned — SHOW PARTITIONS has nothing to show")
    spec.foreach { case (k, _) =>
      require(partCols.exists(_.equalsIgnoreCase(k)),
        s"PARTITION column $k is not a partition column " +
          s"(partitioned by: ${partCols.mkString(", ")})") }
    val want = spec.map { case (k, value) =>
      s"${escapePathName(partCols.find(_.equalsIgnoreCase(k)).get)}=${escapePathName(value)}"
    }
    m.files.map(f => ManifestLake.partDirOf(f.path)).distinct
      .filter(d => want.forall(seg => d.split("/").contains(seg)))
      .sorted.map(Row(_))
  }
}

/** `DESCRIBE TABLE …` on the multipart spelling — the recorded LOGICAL
  * schema (column mapping and nested-field renames applied), with the
  * partition-information block Spark's own DESCRIBE prints; EXTENDED
  * appends provider/location/version/constraint rows.
  */
final case class GraftDescribeCommand(path: String, isExtended: Boolean)
  extends LeafRunnableCommand {
  private def str = org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("col_name", str, nullable = false)(),
    AttributeReference("data_type", str, nullable = false)(),
    AttributeReference("comment", str, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (fs, root) = ManifestLake.fsFor(spark, path)
    val v = ManifestLake.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = ManifestLake.readManifest(fs, root, v)
    val logical = ManifestLake.logicalSchemaOf(m)
    // the comment column carries the recorded column COMMENT plus a
    // lowered NOT NULL marker (DESCRIBE has no nullability column of
    // its own; Delta renders it the same way)
    def notNull(col: String): Boolean = m.constraints.exists { case (n, e) =>
      GraftNotNull.isLowered(col, n, e) }
    val colComment = m.extras.collect { case (k, t) if k.startsWith("col:") =>
      k.stripPrefix("col:") -> t }.toMap
    val colRows = logical.fields.toSeq.map { f =>
      val bits = (if (notNull(f.name)) Seq("not null") else Seq.empty) ++
        colComment.get(f.name)
      Row(f.name, f.dataType.simpleString,
        if (bits.isEmpty) null else bits.mkString("; "))
    }
    val partRows =
      if (m.partCols.isEmpty) Seq.empty
      else Row("# Partition Information", "", null) +:
        Row("# col_name", "data_type", "comment") +:
        m.partCols.map { c =>
          val f = logical.fields.find(_.name.equalsIgnoreCase(c))
          Row(c, f.map(_.dataType.simpleString).getOrElse("string"), null)
        }
    val extRows =
      if (!isExtended) Seq.empty
      else Seq(
        Row("", "", null),
        Row("# Detailed Table Information", "", null),
        Row("Location", path, null),
        Row("Provider", "graft-manifest", null),
        Row("Version", v.toString, null),
        Row("StatsCols", m.statsColsDefault.mkString(","), null),
        Row("BloomCols", m.bloomCols.mkString(","), null),
        Row("ClusterCols", m.clusterCols.mkString(","), null)) ++
        m.extras.collectFirst { case ("comment", t) =>
          Row("Comment", t, null) }.toSeq ++
        m.constraints.toSeq.filterNot { case (n, e) =>
          logical.fieldNames.exists(c => GraftNotNull.isLowered(c, n, e))
        }.sortBy(_._1).map { case (n, e) =>
          Row(s"Constraint $n", e, null) }
    colRows ++ partRows ++ extRows
  }
}

/** `ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]` — the
  * metadata-only stats backfill ([[ManifestLake.analyzeStats]]):
  * bounds/null-counts/value-sets for live files missing them, no data
  * rewrite; the columns join the sticky declared set. Returns the
  * published version.
  */
final case class GraftAnalyzeCommand(path: String, cols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestLake.analyzeStats(spark, path, cols)))
}

/** `SHOW TBLPROPERTIES …` — the table facts a property-shaped reader
  * expects: provider, the declared skipping machinery, partitioning,
  * head version; `('key')` selects one.
  */
final case class GraftShowPropertiesCommand(path: String, key: Option[String])
  extends LeafRunnableCommand {
  private def str = org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", str, nullable = false)(),
    AttributeReference("value", str, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (fs, root) = ManifestLake.fsFor(spark, path)
    val v = ManifestLake.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = ManifestLake.readManifest(fs, root, v)
    val props = Seq(
      "provider" -> "graft-manifest",
      "graft.statsCols" -> m.statsColsDefault.mkString(","),
      "graft.bloomCols" -> m.bloomCols.mkString(","),
      "graft.clusterCols" -> m.clusterCols.mkString(","),
      "graft.partitionCols" -> m.partCols.mkString(","),
      "graft.version" -> v.toString) ++
      m.extras.collectFirst { case ("comment", t) => "comment" -> t }.toSeq ++
      (if (m.requires.isEmpty) Seq.empty
       else Seq("graft.requiredFeatures" -> m.requires.sorted.mkString(","))) ++
      m.extras.collectFirst { case ("autocompact.targetFileBytes", t) =>
        "graft.autoCompact.targetFileBytes" -> t }.toSeq ++
      m.extras.collectFirst { case ("autocompact.minNumFiles", t) =>
        "graft.autoCompact.minNumFiles" -> t }.toSeq ++
      m.extras.collect { case (k, t) if k.startsWith("prop:") =>
        k.stripPrefix("prop:") -> t }
    key match {
      case Some(k) => props.filter(_._1.equalsIgnoreCase(k)) match {
        case Seq() => Seq(Row(k, s"Table $path does not have property: $k"))
        case found => found.map { case (a, b) => Row(a, b) }
      }
      case None => props.map { case (a, b) => Row(a, b) }
    }
  }
}

/** `SHOW CREATE TABLE …` — a RUNNABLE re-creation statement for the
  * table's current recorded shape: logical columns (mapping and
  * nested renames applied) with GENERATED ALWAYS AS expressions in
  * place, CHECK constraints, identity partitioning, and the declared
  * skipping machinery as TBLPROPERTIES. Executing the emitted DDL on
  * a fresh path yields a table the original's rows INSERT into
  * unchanged — the round-trip the q133 gate drives end-to-end.
  */
final case class GraftShowCreateCommand(path: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("createtab_stmt",
      org.apache.spark.sql.types.StringType, nullable = false)())
  private def q(id: String): String = "`" + id.replace("`", "``") + "`"
  override def run(spark: SparkSession): Seq[Row] = {
    val (fs, root) = ManifestLake.fsFor(spark, path)
    val v = ManifestLake.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = ManifestLake.readManifest(fs, root, v)
    val logical = ManifestLake.logicalSchemaOf(m)
    val genByName = m.generated.toMap
    // CREATE requires generated columns to trail the plain ones (and
    // generated PARTITION columns to lead the generated trailer) — a
    // table whose plain columns were ADDED after a generated column
    // would emit unrunnable DDL in raw schema order, so the emission
    // re-groups: plain, then part-generated, then other generated (the
    // clone's column order can differ from such a table's; INSERT BY
    // NAME round-trips regardless)
    val (genFields, plainFields) =
      logical.fields.toSeq.partition(f => genByName.contains(f.name))
    val (genPartF, genOtherF) =
      genFields.partition(f => m.partCols.exists(_.equalsIgnoreCase(f.name)))
    val defByName = m.defaults.toMap
    val identByName = m.identity.map(i => i._1 -> ((i._2, i._3, i._5))).toMap
    // a NOT NULL lowered to its reserved CHECK pair renders back as
    // NOT NULL on the column line (and NOT as a CONSTRAINT line — the
    // emitted DDL re-lowers it, so emitting both would double-declare)
    def notNull(col: String): Boolean = m.constraints.exists { case (n, e) =>
      GraftNotNull.isLowered(col, n, e) }
    def nn(col: String): String = if (notNull(col)) " NOT NULL" else ""
    def lit(t: String): String = "'" + t.replace("'", "''") + "'"
    val commentByName = m.extras.collect { case (k, t) if k.startsWith("col:") =>
      k.stripPrefix("col:") -> t }.toMap
    def cm(col: String): String =
      commentByName.get(col).map(t => s" COMMENT ${lit(t)}").getOrElse("")
    val colLines = (plainFields ++ genPartF ++ genOtherF).map { f =>
      genByName.get(f.name) match {
        case Some(expr) =>
          s"  ${q(f.name)} ${f.dataType.sql}${nn(f.name)} " +
            s"GENERATED ALWAYS AS ($expr)" + cm(f.name)
        case None => identByName.get(f.name) match {
          case Some((st, sp, bd)) =>
            s"  ${q(f.name)} ${f.dataType.sql}${nn(f.name)} GENERATED " +
              (if (bd) "BY DEFAULT" else "ALWAYS") +
              s" AS IDENTITY (START WITH $st INCREMENT BY $sp)" + cm(f.name)
          case None =>
            s"  ${q(f.name)} ${f.dataType.sql}${nn(f.name)}" +
              defByName.get(f.name).map(d => s" DEFAULT $d").getOrElse("") +
              cm(f.name)
        }
      }
    }
    val lowered = logical.fieldNames.toSet.flatMap((c: String) =>
      m.constraints.collect {
        case (n, e) if GraftNotNull.isLowered(c, n, e) => n })
    val consLines = m.constraints.toSeq.filterNot(c => lowered(c._1))
      .sortBy(_._1).map { case (n, e) =>
      s"  CONSTRAINT ${q(n)} CHECK ($e)"
    }
    val props = Seq(
      "graft.statsCols" -> m.statsColsDefault.mkString(","),
      "graft.bloomCols" -> m.bloomCols.mkString(",")).filter(_._2.nonEmpty) ++
      m.extras.collectFirst { case ("autocompact.targetFileBytes", t) =>
        "graft.autoCompact.targetFileBytes" -> t }.toSeq ++
      m.extras.collectFirst { case ("autocompact.minNumFiles", t) =>
        "graft.autoCompact.minNumFiles" -> t }.toSeq ++
      m.extras.collect { case (k, t) if k.startsWith("prop:") =>
        k.stripPrefix("prop:") -> t }
    val stmt = new StringBuilder
    stmt ++= s"CREATE TABLE ${q("graft-manifest")}.${q(path)} (\n"
    stmt ++= (colLines ++ consLines).mkString(",\n")
    stmt ++= "\n)\nUSING `graft-manifest`"
    m.extras.collectFirst { case ("comment", t) =>
      stmt ++= s"\nCOMMENT ${lit(t)}" }
    if (m.partCols.nonEmpty)
      stmt ++= s"\nPARTITIONED BY (${m.partCols.map(q).mkString(", ")})"
    if (m.clusterCols.nonEmpty) {
      // clustering keys are recorded physical — render the LOGICAL
      // names so the emitted DDL re-declares on a fresh (unmapped) table
      val toLogical = m.colMap.map(_.map(_.swap).toMap).getOrElse(Map.empty)
      stmt ++= s"\nCLUSTER BY (${m.clusterCols
        .map(c => q(toLogical.getOrElse(c, c))).mkString(", ")})"
    }
    if (props.nonEmpty)
      stmt ++= "\nTBLPROPERTIES (" + props.map { case (k, value) =>
        s"${lit(k)} = ${lit(value)}" }.mkString(", ") + ")"
    Seq(Row(stmt.toString))
  }
}

/** `SHOW COLUMNS IN …` — the logical column names. */
final case class GraftShowColumnsCommand(path: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("col_name",
      org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (fs, root) = ManifestLake.fsFor(spark, path)
    val v = ManifestLake.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val logical = ManifestLake.logicalSchemaOf(
      ManifestLake.readManifest(fs, root, v))
    logical.fieldNames.toSeq.map(Row(_))
  }
}

/** `INSERT INTO … / INSERT OVERWRITE …` on a manifest table:
  * positional column alignment with store-assignment casts (BY NAME
  * aligns by name), an explicit column list NULLs the unlisted
  * columns, a static PARTITION spec becomes literal columns, and the
  * batch must match the table's arity — INSERT never widens the
  * schema (that is the writer API's explicit append surface).
  * Dispatch: plain INSERT INTO appends. INSERT OVERWRITE follows
  * Spark's partitionOverwriteMode exactly —
  * `dynamic`: replace exactly the partitions the batch touches in
  * ONE commit ([[ManifestLake.overwritePartitions]]);
  * `static` (the default) with a PARTITION spec: every live
  * partition matching the STATIC columns clears in the same commit,
  * whether or not the batch writes into it (partial specs clear the
  * whole static prefix; an all-dynamic spec matches everything — the
  * table replaces wholesale); a fully-static spec with an empty
  * query CLEARS that partition (the Hive idiom, served as a
  * metadata-only delete). Without a spec, OVERWRITE replaces the
  * table wholesale.
  */
final case class GraftInsertCommand(path: String, queryPlan: LogicalPlan,
                                    overwrite: Boolean, byName: Boolean,
                                    userCols: Seq[String],
                                    staticPart: Seq[(String, String)],
                                    partSpecified: Boolean = false)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(queryPlan)
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val (fs, root) = ManifestLake.fsFor(spark, path)
    val v = ManifestLake.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no manifested table at $path (INSERT needs an existing table; " +
          "create one with the writer API)"))
    val m = ManifestLake.readManifest(fs, root, v)
    val logical = ManifestLake.logicalSchemaOf(m)
    val df = SparkShims.ofRows(spark, queryPlan)
    val byLower = logical.fieldNames.map(f => f.toLowerCase -> f).toMap
    staticPart.foreach { case (k, _) =>
      require(byLower.contains(k.toLowerCase),
        s"PARTITION column $k is not a table column") }
    val staticCols = staticPart.map { case (k, value) =>
      byLower(k.toLowerCase) -> value }.toMap
    // an ALWAYS identity column is never supplied — the engine assigns
    // it; it leaves the positional arity too. A BY DEFAULT identity MAY
    // be supplied (it stays in the positional arity — standard SQL) and
    // an omitted one is engine-assigned.
    val identityAlways = m.identity.filterNot(_._5).map(_._1)
    val identityByDefault = m.identity.filter(_._5).map(_._1)
    identityAlways.foreach { n =>
      require(!userCols.exists(_.equalsIgnoreCase(n)),
        s"column $n is GENERATED ALWAYS AS IDENTITY — INSERT cannot " +
          "assign it; omit the column (the engine assigns)")
    }
    // the columns the QUERY must supply, in table order
    val expect = logical.fields.filterNot(f => staticCols.contains(f.name) ||
      identityAlways.exists(_.equalsIgnoreCase(f.name)))
    val supplied: Seq[(String, Column)] =
      if (userCols.nonEmpty) {
        val actual = userCols.map(c => byLower.getOrElse(c.toLowerCase,
          throw new IllegalArgumentException(
            s"INSERT column $c is not a table column " +
              s"(columns: ${logical.fieldNames.mkString(", ")})")))
        require(actual.distinct.size == actual.size,
          "INSERT column list names a column twice")
        require(df.schema.length == actual.size,
          s"INSERT column list has ${actual.size} column(s) but the query " +
            s"produces ${df.schema.length}")
        actual.zip(df.schema.fieldNames.map(col))
      } else if (byName) {
        val qLower = df.schema.fieldNames.map(f => f.toLowerCase -> f).toMap
        identityAlways.foreach(n => require(!qLower.contains(n.toLowerCase),
          s"column $n is GENERATED ALWAYS AS IDENTITY — INSERT BY NAME " +
            "cannot assign it; omit the column (the engine assigns)"))
        val genNames = m.generated.map(_._1).toSet
        val defNames = m.defaults.map(_._1.toLowerCase).toSet
        expect.toSeq.flatMap { f =>
          qLower.get(f.name.toLowerCase) match {
            case Some(q) => Some(f.name -> col(q))
            // an absent GENERATED column is computed by the engine;
            // an absent DEFAULTED column materializes its default below
            case None if genNames.contains(f.name) => None
            case None if defNames.contains(f.name.toLowerCase) => None
            // an absent BY DEFAULT identity is engine-assigned
            case None if identityByDefault.exists(_.equalsIgnoreCase(f.name)) =>
              None
            case None => throw new IllegalArgumentException(
              s"INSERT BY NAME query is missing table column ${f.name}")
          }
        }
      } else {
        require(df.schema.length == expect.length,
          s"INSERT query produces ${df.schema.length} column(s) but the " +
            s"table expects ${expect.length}" +
            (if (staticCols.nonEmpty) " (after the static PARTITION spec)"
             else "") +
            s": ${expect.map(_.name).mkString(", ")}")
        expect.map(_.name).zip(df.schema.fieldNames.map(col)).toSeq
      }
    val byAssigned = supplied.toMap
    val genNames = m.generated.map(_._1).toSet
    // an explicit column list (or BY NAME) leaving a GENERATED column
    // unassigned OMITS it — the engine computes absent generated
    // columns; a NULL fill would be validated-as-supplied and refuse.
    // An unassigned column WITH a declared DEFAULT materializes it
    // (standard SQL omitted-column semantics; an explicit NULL in the
    // list stays NULL — defaults only fill absence)
    def absentFill(f: org.apache.spark.sql.types.StructField): Column =
      m.defaults.find(_._1.equalsIgnoreCase(f.name))
        .map { case (_, d) => org.apache.spark.sql.functions.expr(d) }
        .getOrElse(lit(null)).cast(f.dataType)
    val projected = df.select(logical.fields.toSeq.flatMap { f =>
      (staticCols.get(f.name) match {
        case Some(value) => Some(lit(value).cast(f.dataType))
        case None if identityAlways.exists(_.equalsIgnoreCase(f.name)) =>
          None // the engine assigns
        case None => byAssigned.get(f.name).map(_.cast(f.dataType)) match {
          case Some(c) => Some(c)
          case None if (userCols.nonEmpty || byName) && genNames.contains(f.name) =>
            None
          // a column list omitting a BY DEFAULT identity leaves it to
          // the engine (a NULL fill would store nulls, not assign)
          case None if (userCols.nonEmpty || byName) &&
            identityByDefault.exists(_.equalsIgnoreCase(f.name)) => None
          case None => Some(absentFill(f))
        }
      }).map(_.as(f.name))
    }: _*)
    val partCols =
      ManifestLake.recordedPartitionCols(spark, path).getOrElse(Seq.empty)
    if (partSpecified) staticCols.keys.foreach(k =>
      require(partCols.contains(k),
        s"PARTITION column $k is not a partition column " +
          s"(partitioned by: ${partCols.mkString(", ")})"))
    val dynamicMode = spark.conf
      .getOption("spark.sql.sources.partitionOverwriteMode")
      .exists(_.equalsIgnoreCase("dynamic"))
    val newV =
      if (overwrite && (partSpecified || dynamicMode) && partCols.nonEmpty) {
        val staticAll = partCols.forall(staticCols.contains)
        if (staticAll && projected.isEmpty) {
          // INSERT OVERWRITE a fully-named partition with an empty
          // query clears it — the Hive idiom; metadata-only inside
          ManifestLake.delete(spark, path,
            partCols.map(c => col(c) === lit(staticCols(c))).reduce(_ && _))
        } else if (dynamicMode) {
          // dynamic mode replaces exactly the partitions the batch
          // touches — static values only pin where rows land
          ManifestLake.overwritePartitions(spark, path, projected)
        } else {
          // STATIC mode (Spark/Hive default): every live partition
          // matching the static prefix clears, whether or not the
          // batch writes into it; an all-dynamic spec matches every
          // partition — the whole table replaces
          val orderedPrefix = partCols.takeWhile(staticCols.contains)
            .map(c => c -> staticCols(c))
          require(orderedPrefix.length == staticCols.size,
            s"static PARTITION columns (${staticCols.keys.mkString(", ")}) " +
              "must be the leading partition columns in table order " +
              s"(partitioned by: ${partCols.mkString(", ")})")
          if (orderedPrefix.isEmpty)
            ManifestLake.write(spark, projected, path, partCols,
              replace = true)
          else ManifestLake.overwritePartitions(spark, path, projected,
            staticPrefix = orderedPrefix)
        }
      } else ManifestLake.write(spark, projected, path, partCols,
        replace = overwrite)
    Seq(Row(newV))
  }
}

/** The session-parser wrapper [[graft.functions.GraftExtensions]]
  * injects: Spark's own grammar does ALL parsing; parsed DML plans
  * whose target is a manifest table swap for the dispatching command,
  * everything else passes through untouched.
  */
final class GraftSqlParser(spark: SparkSession, delegate: ParserInterface)
  extends ParserInterface {

  private def intercept(plan: LogicalPlan): LogicalPlan =
    // DML claims its statement FIRST (target resolution matches the
    // raw UnresolvedRelation); manifest READ references — direct
    // `graft-manifest`.`path` queries and VERSION/TIMESTAMP AS OF —
    // then resolve inside whatever remains: the whole plan for a
    // query, the source/query sub-plans of a claimed DML command
    // (commands are leaves, so the sub-plans need the explicit map).
    // ANY exception — a translation refusal or an unexpected one —
    // fails the statement loudly; there is deliberately no fall-back
    // to the vanilla plan, because vanilla Spark CAN run some of these
    // statements (an INSERT through a temp view's HadoopFsRelation
    // writes files under the table root with no manifest commit) and
    // a silent fall-back would corrupt the table instead of erroring.
    GraftSqlDml.rewrite(spark, plan) match {
      case Some(cmd: GraftMergeCommand) =>
        cmd.copy(sourcePlan = GraftSqlDml.rewriteReads(spark, cmd.sourcePlan))
      case Some(cmd: GraftInsertCommand) =>
        cmd.copy(queryPlan = GraftSqlDml.rewriteReads(spark, cmd.queryPlan))
      case Some(cmd: GraftCreateTableCommand) =>
        // CTAS/REPLACE … AS SELECT reading FROM a manifest reference
        // (the snapshot-clone idiom, incl. VERSION/TIMESTAMP AS OF)
        cmd.copy(mode = cmd.mode match {
          case CreateAsSelect(q, ine) =>
            CreateAsSelect(GraftSqlDml.rewriteReads(spark, q), ine)
          case ReplaceAsSelect(q, oc) =>
            ReplaceAsSelect(GraftSqlDml.rewriteReads(spark, q), oc)
          case other => other
        })
      case Some(other) => other
      case None => GraftSqlDml.rewriteReads(spark, plan)
    }

  // Maintenance statements (VACUUM / OPTIMIZE / RESTORE / DESCRIBE
  // HISTORY) are claimed BEFORE the delegate parse: three of them do
  // not exist in Spark's grammar at all, and `DESCRIBE HISTORY t`
  // would MIS-parse (describe-column of a table named HISTORY) rather
  // than fail — GraftMaintenanceSql only claims that one when the
  // full shape parses and the target is a manifest table.
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftMaintenanceSql.parse(spark, sqlText).getOrElse(
      intercept(delegate.parsePlan(sqlText)))

  override def parsePlanWithParameters(sqlText: String,
                                       ctx: ParameterContext): LogicalPlan =
    GraftMaintenanceSql.parse(spark, sqlText).getOrElse(
      intercept(delegate.parsePlanWithParameters(sqlText, ctx)))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)

  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)

  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)

  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)

  override def parseRoutineParam(sqlText: String): org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)

  override def parseTableSchema(sqlText: String): org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)

  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}
