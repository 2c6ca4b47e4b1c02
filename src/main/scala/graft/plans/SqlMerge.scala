package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.bridge.{columnOf => exprCol, dataFrameOf}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._

import graft.operators.TableMerge

/** SQL `MERGE INTO` surface over TableMerge tables (VERDICT r15 #2 /
  * next-round #7) — the reference merges via the literal statement
  * (`silver/transformer.py:2427-2458`: `MERGE INTO … WHEN MATCHED THEN
  * UPDATE SET * WHEN NOT MATCHED THEN INSERT *`), and until now a user
  * typing that shape had no entry point: [[graft.operators.TableMerge]]
  * reproduces the semantics only as a library API.
  *
  * Mechanism — the (c) ladder rung of the engine's extension policy
  * (custom `LogicalPlan` + `Rule` + `SparkStrategy` via
  * `SparkSessionExtensions`, the [[TopKPerKey]] precedent):
  *
  *  1. Spark's OWN parser produces the `MergeIntoTable` AST — the
  *     statement shape is verbatim Spark SQL, nothing re-parsed here.
  *  2. [[ResolveGraftMerge]] (injected resolution rule) substitutes a
  *     target relation addressed as `` graft.`/path` `` or
  *     `` `graft:/path` `` with the table's live-version parquet plan
  *     (wrapped in a [[GraftTable]] marker), letting the ANALYZER
  *     resolve the merge condition, the assignments, and the
  *     `SET * / INSERT *` star expansion with its own rules.
  *  3. Once the node is fully resolved, the same rule converts it to
  *     [[GraftMergeCommand]]; [[GraftMergeStrategy]] plans that to a
  *     [[GraftCommandExec]] running [[run]], which computes the merge
  *     result with ordinary DataFrame algebra and commits it through
  *     `TableMerge.replaceGroups`, the engine's one row-level commit.
  *     On a partitioned table the dropped groups are the partitions
  *     holding matched / inserted / by-source-affected rows: only those
  *     rewrite, untouched partitions hard-link into the new version
  *     (SqlMergeSpec pins the inodes). UPDATE, DELETE and INSERT INTO
  *     commit the same way; only CREATE, CTAS and INSERT OVERWRITE
  *     replace the table outright.
  *
  * Every DML statement commits against the version its target was read
  * from at analysis ([[GraftTable]] records it) and never retries: when
  * another commit landed in between, the statement fails with
  * [[graft.operators.CommitConflictException]] and must be re-run —
  * its rows were computed from the older snapshot, so committing them
  * would overwrite the newer one.
  *
  * Why not DSv2 `SupportsRowLevelOperations`: that interface requires
  * the table to ship its own scan/write stack; these tables are plain
  * parquet directories whose scan/write IS Spark's parquet path, so the
  * plan-level rewrite reuses it wholesale while keeping the native
  * parser/analyzer semantics. The marker node never reaches execution —
  * an optimizer rule strips it, which also makes
  * `SELECT … FROM graft.`/path`` read the live table version.
  *
  * Clause semantics (Delta/Spark): first matching WHEN clause wins per
  * row; a target row matched by MORE than one source row is rejected at
  * runtime (the nondeterministic-merge error, checked with one count
  * aggregate); WHEN NOT MATCHED BY SOURCE UPDATE/DELETE is supported.
  */
object SqlMerge {

  /** Pass-through marker binding a resolved plan to its table path and
    * the snapshot `version` it reads: the live one at analysis, which a
    * DML statement commits against, or a snapshot `pinned` by a
    * `path@v-…` time-travel read — read-only: DML against a pinned
    * snapshot is rejected. */
  final case class GraftTable(path: String, version: String, pinned: Boolean,
                              child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(c: LogicalPlan): GraftTable = copy(child = c)
  }

  final case class GraftMergeCommand(
      path: String,
      base: String,
      target: LogicalPlan,
      source: LogicalPlan,
      condition: Expression,
      matchedActions: Seq[MergeAction],
      notMatchedActions: Seq[MergeAction],
      notMatchedBySourceActions: Seq[MergeAction]) extends BinaryCommand {
    override def left: LogicalPlan = target
    override def right: LogicalPlan = source
    override def output: Seq[Attribute] = Nil
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): GraftMergeCommand =
      copy(target = newLeft, source = newRight)
  }

  final case class GraftInsertCommand(
      path: String,
      base: String,
      targetSchema: org.apache.spark.sql.types.StructType,
      query: LogicalPlan,
      overwrite: Boolean,
      byName: Boolean) extends UnaryCommand {
    override def child: LogicalPlan = query
    override def output: Seq[Attribute] = Nil
    override protected def withNewChildInternal(c: LogicalPlan): GraftInsertCommand =
      copy(query = c)
  }

  final case class GraftCreateTableCommand(
      path: String,
      tableSchema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String],
      ifNotExists: Boolean) extends LeafCommand

  final case class GraftCtasCommand(
      path: String,
      partitionCols: Seq[String],
      query: LogicalPlan,
      orReplace: Boolean,
      ifNotExists: Boolean) extends UnaryCommand {
    override def child: LogicalPlan = query
    override def output: Seq[Attribute] = Nil
    override protected def withNewChildInternal(c: LogicalPlan): GraftCtasCommand =
      copy(query = c)
  }

  final case class GraftAddColumnsCommand(
      path: String,
      cols: Seq[org.apache.spark.sql.types.StructField]) extends LeafCommand

  /** `ALTER TABLE … RENAME COLUMN a TO b` — metadata-only via column
    * mapping ([[graft.operators.TableMerge.renameColumn]]). */
  final case class GraftRenameColumnCommand(
      path: String, from: String, to: String) extends LeafCommand

  /** `ALTER TABLE … DROP COLUMN[S] …` — metadata-only via column
    * mapping ([[graft.operators.TableMerge.dropColumns]]). */
  final case class GraftDropColumnsCommand(
      path: String, cols: Seq[String], ifExists: Boolean) extends LeafCommand

  final case class GraftDropTableCommand(
      path: String, ifExists: Boolean) extends LeafCommand

  // ---- maintenance statements (the Delta OPTIMIZE/VACUUM/RESTORE/
  // DESCRIBE HISTORY surface over the versioned-parquet layout) ----

  private def attr(name: String, dt: org.apache.spark.sql.types.DataType,
                   nullable: Boolean = false): Attribute =
    org.apache.spark.sql.catalyst.expressions.AttributeReference(name, dt, nullable)()

  /** `VACUUM graft.… [RETAIN n HOURS]` → expire retained snapshots older
    * than the horizon (live always survives); returns the count. */
  final case class GraftVacuumCommand(path: String, retainMs: Long) extends LeafCommand {
    override val output: Seq[Attribute] =
      Seq(attr("n_expired", org.apache.spark.sql.types.LongType))
  }

  /** `OPTIMIZE graft.… [ZORDER BY (x, y)]` → partition-scoped
    * small-file compaction (unpartitioned tables compact wholesale);
    * with ZORDER BY, every unit is rewritten re-clustered on the
    * interleaved key instead (the file-level data-skipping layout).
    * Returns the number of compaction units rewritten. */
  final case class GraftOptimizeCommand(path: String, maxFiles: Int,
                                        zorderBy: Option[(String, String)],
                                        where: Option[(String, String)] = None) extends LeafCommand {
    override val output: Seq[Attribute] =
      Seq(attr("n_compacted", org.apache.spark.sql.types.LongType))
  }

  /** `RESTORE TABLE graft.… [TO] VERSION AS OF 'v-…'` → roll the live
    * table back to a retained snapshot as a NEW commit (history moves
    * forward); returns the live version name after the restore. */
  final case class GraftRestoreCommand(path: String, version: String) extends LeafCommand {
    override val output: Seq[Attribute] =
      Seq(attr("live_version", org.apache.spark.sql.types.StringType))
  }

  /** `DESCRIBE HISTORY graft.…` → one row per retained committed
    * snapshot, newest first: name, live flag, data-file count (from the
    * version's manifest), and the commit's txn metadata rendered `k=v`
    * comma-joined. */
  final case class GraftHistoryCommand(path: String) extends LeafCommand {
    override val output: Seq[Attribute] = Seq(
      attr("version", org.apache.spark.sql.types.StringType),
      attr("is_live", org.apache.spark.sql.types.BooleanType),
      attr("n_files", org.apache.spark.sql.types.LongType),
      attr("meta", org.apache.spark.sql.types.StringType))
  }

  /** `ANALYZE TABLE graft.… COMPUTE STATISTICS FOR COLUMNS a, b` —
    * declare per-FILE stat columns and compute their ranges
    * ([[graft.operators.TableMerge.analyzeStats]]): a metadata-only
    * commit + one column-pruned min/max scan; thereafter every write
    * path maintains the ranges incrementally. */
  final case class GraftAnalyzeCommand(path: String, cols: Seq[String])
    extends LeafCommand

  /** `SHOW DATABASES IN graft` — enumerate [[GraftCatalog]] database
    * names (registrations ∪ warehouse subdirs); the reference verifies
    * its schema bootstrap with exactly this statement
    * (`create_schema.py:428-433`). */
  final case class GraftShowDatabasesCommand() extends LeafCommand {
    override val output: Seq[Attribute] =
      Seq(attr("namespace", org.apache.spark.sql.types.StringType))
  }

  /** `SHOW TABLES IN graft.db` (`create_schema.py:434-441`). */
  final case class GraftShowTablesCommand(db: String) extends LeafCommand {
    override val output: Seq[Attribute] = Seq(
      attr("namespace", org.apache.spark.sql.types.StringType),
      attr("tableName", org.apache.spark.sql.types.StringType))
  }

  /** `SHOW PARTITIONS graft.…` — one row per live partition directory
    * (`col=val[/col2=val2]`), enumerated from the snapshot's file
    * MANIFEST (zero directory listing), Spark-style output. */
  final case class GraftShowPartitionsCommand(path: String) extends LeafCommand {
    override val output: Seq[Attribute] =
      Seq(attr("partition", org.apache.spark.sql.types.StringType))
  }

  /** `DESCRIBE DETAIL graft.…` — the Delta `DESCRIBE DETAIL` analogue:
    * one row of table-level facts, served from the MANIFEST (zero
    * directory listing): live version, file count, total bytes,
    * partition columns, retained version count, declared stat columns,
    * and whether column mapping is active. */
  final case class GraftDescribeDetailCommand(path: String) extends LeafCommand {
    override val output: Seq[Attribute] = Seq(
      attr("format", org.apache.spark.sql.types.StringType),
      attr("location", org.apache.spark.sql.types.StringType),
      attr("live_version", org.apache.spark.sql.types.StringType),
      attr("num_files", org.apache.spark.sql.types.LongType),
      attr("size_bytes", org.apache.spark.sql.types.LongType),
      attr("partition_columns", org.apache.spark.sql.types.StringType),
      attr("num_retained_versions", org.apache.spark.sql.types.LongType),
      attr("stat_columns", org.apache.spark.sql.types.StringType),
      attr("column_mapping", org.apache.spark.sql.types.BooleanType))
  }

  /** `DESCRIBE [TABLE] graft.…` — column names/types in read-back
    * order plus the partition-information section, Spark-style. */
  final case class GraftDescribeTableCommand(path: String) extends LeafCommand {
    override val output: Seq[Attribute] = Seq(
      attr("col_name", org.apache.spark.sql.types.StringType),
      attr("data_type", org.apache.spark.sql.types.StringType),
      attr("comment", org.apache.spark.sql.types.StringType, nullable = true))
  }

  final case class GraftUpdateCommand(
      path: String,
      base: String,
      target: LogicalPlan,
      assignments: Seq[Assignment],
      condition: Option[Expression]) extends UnaryCommand {
    override def child: LogicalPlan = target
    override def output: Seq[Attribute] = Nil
    override protected def withNewChildInternal(c: LogicalPlan): GraftUpdateCommand =
      copy(target = c)
  }

  final case class GraftDeleteCommand(
      path: String,
      base: String,
      target: LogicalPlan,
      condition: Expression) extends UnaryCommand {
    override def child: LogicalPlan = target
    override def output: Seq[Attribute] = Nil
    override protected def withNewChildInternal(c: LogicalPlan): GraftDeleteCommand =
      copy(target = c)
  }

  /** NAME→PATH catalog for `graft.db.table` addressing — the
    * reference's `catalog.db.table` identifier shape
    * (`silver/transformer.py:1339`, `gold_analytics.py:191`) over
    * TableMerge paths. Explicit registrations win; unregistered names
    * resolve under the warehouse root (session conf
    * `spark.graft.warehouse`), so `CREATE TABLE graft.silver.docs …`
    * works with zero setup and a production deploy points the root at
    * its object-store prefix. Metadata-only and process-local by
    * design: the TABLE state (versions, schema, partitioning) lives in
    * the table directory itself, exactly like a Hive metastore path
    * mapping — two sessions sharing a filesystem share the tables. */
  object GraftCatalog {
    private val reg = new java.util.concurrent.ConcurrentHashMap[String, String]()
    private def norm(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    def register(db: String, table: String, path: String): Unit = {
      reg.put(norm(s"$db.$table"), path); ()
    }
    def unregister(db: String, table: String): Unit = {
      reg.remove(norm(s"$db.$table")); ()
    }
    private def warehouseRoot: String =
      org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(s => s.conf.getOption("spark.graft.warehouse"))
        .getOrElse("target/graft-state/warehouse")
    // warehouse paths use the NORMALIZED name (like registrations):
    // name resolution is case-insensitive throughout, so a case-
    // differing spelling must land on (and list) the same directory.
    // Pre-existing warehouses may hold MIXED-CASE subdirs created by
    // earlier builds (or by hand): each path segment first matches an
    // existing subdir case-insensitively, so enumeration (databases()/
    // tables(), which list raw names) and resolution agree — a name
    // SHOW surfaced always resolves to the directory it came from
    // (ADVICE r18). New segments (CREATE of a fresh db/table) land at
    // the normalized lower-case path.
    // exact-case match wins outright; among case-insensitive matches
    // the lexicographically-first subdir is the DETERMINISTIC winner
    // (ADVICE r19: collectFirst took the filesystem's arbitrary listing
    // order, so two subdirs differing only by case could bind either
    // way across calls)
    private def matchSegment(parent: java.nio.file.Path, name: String): String = {
      val dirs = Option(parent.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName)
      dirs.find(_ == name)
        .orElse(dirs.filter(_.equalsIgnoreCase(name)).sorted.headOption)
        .getOrElse(norm(name))
    }
    private[SqlMerge] def resolve(db: String, table: String): String = {
      Option(reg.get(norm(s"$db.$table"))).getOrElse {
        val root = java.nio.file.Paths.get(warehouseRoot)
        val dbSeg = matchSegment(root, db)
        val tblSeg = matchSegment(root.resolve(dbSeg), table)
        root.resolve(dbSeg).resolve(tblSeg).toString
      }
    }
    private def subdirs(p: java.nio.file.Path): Seq[String] =
      Option(p.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSeq
    /** Database names visible under `graft`: explicit registrations ∪
      * warehouse-root subdirectories (the `SHOW DATABASES IN catalog`
      * enumeration `create_schema.py:428-433` verifies against). */
    def databases(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      (reg.keySet.asScala.toSeq.map(_.split("\\.", 2)(0)) ++
        subdirs(java.nio.file.Paths.get(warehouseRoot))).distinct.sorted
    }
    /** Table names of `db`: registrations ∪ warehouse/db subdirs that
      * hold a committed graft table. The db segment case-matches like
      * [[resolve]] so a mixed-case name surfaced by databases() lists
      * its own tables (ADVICE r18). */
    def tables(db: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val d = norm(db)
      val fromReg = reg.asScala.collect {
        case (k, path) if k.startsWith(d + ".") &&
          graft.operators.TableMerge.exists(path) => k.split("\\.", 2)(1)
      }.toSeq
      val dbSeg = matchSegment(java.nio.file.Paths.get(warehouseRoot), db)
      val fromFs = subdirs(java.nio.file.Paths.get(warehouseRoot, dbSeg)).filter(t =>
        graft.operators.TableMerge.exists(
          java.nio.file.Paths.get(warehouseRoot, dbSeg, t).toString))
      (fromReg ++ fromFs).distinct.sorted
    }
  }

  /** `graft.`path`` (two-part path), `` `graft:path` `` (one-part), or
    * `graft.db.table` (three-part NAME through [[GraftCatalog]]);
    * a `@v-…` suffix pins a retained snapshot (read-only). */
  private def graftParts(parts: Seq[String]): Option[(String, Option[String])] = {
    def splitVersion(r: String): (String, Option[String]) = {
      val at = r.lastIndexOf("@v-")
      if (at > 0) (r.substring(0, at), Some(r.substring(at + 1))) else (r, None)
    }
    parts match {
      case Seq(one) if one.startsWith("graft:") =>
        Some(splitVersion(one.stripPrefix("graft:")))
      case Seq("graft", p) => Some(splitVersion(p))
      case Seq("graft", db, tbl) =>
        val (name, v) = splitVersion(tbl)
        Some((GraftCatalog.resolve(db, name), v))
      case _ => None
    }
  }

  private def graftPath(u: UnresolvedRelation): Option[(String, Option[String])] =
    graftParts(u.multipartIdentifier)

  /** Identifier parts of a DDL target, whether still unresolved or
    * already claimed by the session catalog's resolver (the analyzer's
    * own ResolveCatalogs may rewrite `UnresolvedIdentifier` to a
    * session-catalog `ResolvedIdentifier` before an extension rule
    * runs — the name parts survive either way). */
  private def ddlIdent(p: LogicalPlan): Option[Seq[String]] = p match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
      Some(u.nameParts)
    case r: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier =>
      Some(r.identifier.namespace.toSeq :+ r.identifier.name)
    case _ => None
  }

  /** A DDL statement's graft path: live-table only (no `@v-…`). */
  private def ddlPath(p: LogicalPlan, stmt: String): Option[String] =
    ddlIdent(p).flatMap(graftParts).map { case (path, v) =>
      require(v.isEmpty,
        s"$stmt cannot target the pinned snapshot $path@${v.get} — " +
          "time-travel reads are read-only; target the live table")
      path
    }

  /** PARTITIONED BY column names; rejects non-identity transforms
    * (bucket/days/… have no meaning on the plain-parquet layout). */
  private def partitionColsOf(transforms: Seq[org.apache.spark.sql.connector.expressions.Transform],
                              stmt: String): Seq[String] =
    transforms.map { t =>
      val refs = t.references
      if (t.name == "identity" && refs.length == 1 && refs.head.fieldNames.length == 1)
        refs.head.fieldNames.head
      else throw new IllegalArgumentException(
        s"$stmt on graft tables supports only PARTITIONED BY (column, …); got $t")
    }

  /** graft tables are plain parquet: reject specs that ask for another
    * provider, an external location, serde, or table constraints. */
  private def checkTableSpec(spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase,
                             stmt: String): Unit = spec match {
    case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
      require(u.provider.forall(_.equalsIgnoreCase("parquet")),
        s"$stmt on graft tables supports only USING parquet (the table IS " +
          s"a versioned parquet directory); got USING ${u.provider.get}")
      require(u.location.isEmpty,
        s"$stmt on graft tables takes no LOCATION — the graft.`path` identifier IS the location")
      require(!u.external, s"$stmt on graft tables does not support EXTERNAL")
      require(u.serde.isEmpty, s"$stmt on graft tables does not support serde clauses")
    case _ => ()
  }

  /** Parse-time DDL conversion: CREATE / CTAS / ALTER ADD COLUMNS /
    * DROP against a graft-addressed identifier become graft commands
    * BEFORE analysis starts. This must happen at the parser, not in a
    * resolution rule — the analyzer's own `ResolveSessionCatalog` runs
    * ahead of injected resolution rules in the same batch and would
    * claim the statement for the session catalog first (rejecting the
    * path-shaped identifier). DML stays in [[ResolveGraftMerge]]
    * because it needs the analyzer to resolve the target relation. */
  private def convertDdl(plan: LogicalPlan): LogicalPlan = plan match {
    case c: CreateTable if ddlPath(c.name, "CREATE TABLE").isDefined =>
      checkTableSpec(c.tableSpec, "CREATE TABLE")
      val schema = org.apache.spark.sql.types.StructType(c.columns.map(cd =>
        org.apache.spark.sql.types.StructField(cd.name, cd.dataType, cd.nullable)))
      val parts = partitionColsOf(c.partitioning, "CREATE TABLE")
      parts.foreach(p => require(schema.exists(_.name.equalsIgnoreCase(p)),
        s"PARTITIONED BY column $p is not in the column list"))
      GraftCreateTableCommand(ddlPath(c.name, "CREATE TABLE").get, schema,
        parts, c.ignoreIfExists)
    case c: CreateTableAsSelect if ddlPath(c.name, "CREATE TABLE AS").isDefined =>
      checkTableSpec(c.tableSpec, "CREATE TABLE AS")
      GraftCtasCommand(ddlPath(c.name, "CREATE TABLE AS").get,
        partitionColsOf(c.partitioning, "CREATE TABLE AS"),
        c.query, orReplace = false, ifNotExists = c.ignoreIfExists)
    case r: ReplaceTableAsSelect if ddlPath(r.name, "CREATE OR REPLACE TABLE AS").isDefined =>
      checkTableSpec(r.tableSpec, "CREATE OR REPLACE TABLE AS")
      GraftCtasCommand(ddlPath(r.name, "CREATE OR REPLACE TABLE AS").get,
        partitionColsOf(r.partitioning, "CREATE OR REPLACE TABLE AS"),
        r.query, orReplace = true, ifNotExists = false)
    case AddColumns(t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable, colsToAdd)
        if graftParts(t.multipartIdentifier).isDefined =>
      val (path, v) = graftParts(t.multipartIdentifier).get
      require(v.isEmpty,
        s"ALTER TABLE cannot target the pinned snapshot $path@${v.getOrElse("")}")
      val cols = colsToAdd.map { qc =>
        require(qc.path.isEmpty,
          "ALTER TABLE ADD COLUMNS on graft tables adds top-level columns only")
        require(qc.position.isEmpty,
          "ALTER TABLE ADD COLUMNS on graft tables appends at the end " +
            "(no FIRST/AFTER \u2014 positions are the record's read-back order)")
        require(qc.default.isEmpty,
          "ALTER TABLE ADD COLUMNS on graft tables does not support DEFAULT " +
            "(existing rows read back as NULL)")
        org.apache.spark.sql.types.StructField(qc.colName, qc.dataType, qc.nullable)
      }
      GraftAddColumnsCommand(path, cols)
    case r: RenameColumn =>
      r.table match {
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if graftParts(t.multipartIdentifier).isDefined =>
          val (path, v) = graftParts(t.multipartIdentifier).get
          require(v.isEmpty,
            s"ALTER TABLE cannot target the pinned snapshot $path@${v.getOrElse("")}")
          val parts = r.column match {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName => u.name
            case other => Seq(other.toString)
          }
          require(parts.length == 1,
            "ALTER TABLE RENAME COLUMN on graft tables renames top-level columns only")
          GraftRenameColumnCommand(path, parts.head, r.newName)
        case _ => r
      }
    case d: DropColumns =>
      d.table match {
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if graftParts(t.multipartIdentifier).isDefined =>
          val (path, v) = graftParts(t.multipartIdentifier).get
          require(v.isEmpty,
            s"ALTER TABLE cannot target the pinned snapshot $path@${v.getOrElse("")}")
          val cols = d.columnsToDrop.map {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName =>
              require(u.name.length == 1,
                "ALTER TABLE DROP COLUMN on graft tables drops top-level columns only")
              u.name.head
            case other => other.toString
          }
          GraftDropColumnsCommand(path, cols, d.ifExists)
        case _ => d
      }
    case DropTable(t, ifExists, _) if ddlIdent(t).exists(p => graftParts(p).isDefined) =>
      val (path, v) = ddlIdent(t).flatMap(graftParts).get
      require(v.isEmpty, s"DROP TABLE cannot target the pinned snapshot $path@${v.getOrElse("")}")
      GraftDropTableCommand(path, ifExists)
    case other => other
  }

  /** Replace an addressed relation with the table's live (or pinned)
    * parquet plan, marker-wrapped; shared by the resolution rule and
    * the parser's 3-part-name substitution. */
  private def substitute(spark: SparkSession, u: UnresolvedRelation): LogicalPlan = {
    val (p, pinned) = graftPath(u).get
    val version = pinned.orElse(TableMerge.liveVersion(p)).getOrElse(
      throw new IllegalArgumentException(s"no graft table at $p"))
    val df = TableMerge.readVersion(spark, p, version)
    SubqueryAlias(u.multipartIdentifier.last,
      GraftTable(p, version, pinned.isDefined, df.queryExecution.analyzed))
  }

  /** Session parser wrapper ([[GraftExtensions]] injects it): converts
    * graft DDL statements at parse time, and substitutes 3-part NAMED
    * relations (`graft.db.table`) there too — the session catalog's
    * relation resolver throws REQUIRES_SINGLE_PART_NAMESPACE on a
    * 2-part namespace EAGERLY, before any injected resolution rule
    * could claim the node (2-part path addressing stays in
    * [[ResolveGraftMerge]]: an unknown 1-part namespace merely leaves
    * the relation unresolved). Everything else delegates. */
  final class GraftSqlParser(session: SparkSession,
                             delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
    extends org.apache.spark.sql.catalyst.parser.ParserInterface {
    private def named(u: UnresolvedRelation): Boolean =
      u.multipartIdentifier.length == 3 && graftParts(u.multipartIdentifier).isDefined

    // Maintenance statements Spark's grammar doesn't know (the Delta
    // OPTIMIZE/VACUUM/RESTORE/DESCRIBE HISTORY verbs). Matched at the
    // text level BEFORE delegation — the delegate would throw a
    // ParseException on the verb. Only a graft-addressed identifier is
    // claimed; anything else falls through to the delegate's own error.
    private val VacuumRe =
      """(?is)^\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*$""".r
    private val OptimizeRe =
      ("""(?is)^\s*OPTIMIZE\s+(.+?)""" +
        """(?:\s+WHERE\s+([A-Za-z_]\w*)\s*=\s*'([^']*)')?""" +
        """(?:\s+ZORDER\s+BY\s*\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*\))?""" +
        """\s*;?\s*$""").r
    private val RestoreRe =
      """(?is)^\s*RESTORE\s+TABLE\s+(.+?)\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+('?)([^\s';]+)\2\s*;?\s*$""".r
    private val HistoryRe = """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*$""".r
    // catalog introspection (the reference's schema-verify statements,
    // `create_schema.py:428-441`): SHOW DATABASES/TABLES enumerate the
    // graft catalog; DESCRIBE [TABLE] reports a graft table's schema.
    // DescRe requires the identifier to START with `graft`, so plain
    // `DESCRIBE sometable` falls through to the delegate untouched
    // (and `DESCRIBE HISTORY` is claimed by HistoryRe first).
    private val ShowDbRe =
      """(?is)^\s*SHOW\s+(?:DATABASES|NAMESPACES)\s+(?:IN|FROM)\s+graft\s*;?\s*$""".r
    private val ShowTablesRe =
      """(?is)^\s*SHOW\s+TABLES\s+(?:IN|FROM)\s+graft\s*\.\s*([A-Za-z_]\w*)\s*;?\s*$""".r
    private val ShowPartitionsRe =
      """(?is)^\s*SHOW\s+PARTITIONS\s+(.+?)\s*;?\s*$""".r
    private val DetailRe =
      """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*$""".r
    private val DescRe =
      """(?is)^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(graft\s*[.:].+?)\s*;?\s*$""".r
    private val AnalyzeRe =
      ("""(?is)^\s*ANALYZE\s+TABLE\s+(.+?)\s+COMPUTE\s+STATISTICS\s+""" +
        """FOR\s+COLUMNS\s+([\w\s,`]+?)\s*;?\s*$""").r

    /** Live-table graft path of a maintenance target, None when the
      * identifier doesn't parse or isn't graft-addressed. */
    private def maintPath(identText: String, stmt: String): Option[String] =
      scala.util.Try(delegate.parseMultipartIdentifier(identText.trim)).toOption
        .flatMap(graftParts).map { case (p, v) =>
          require(v.isEmpty,
            s"$stmt cannot target the pinned snapshot $p@${v.get} — " +
              "snapshots are immutable; target the live table")
          p
        }

    private def parseMaintenance(sqlText: String): Option[LogicalPlan] = sqlText match {
      case VacuumRe(ident, hours) =>
        maintPath(ident, "VACUUM").map(p => GraftVacuumCommand(p,
          Option(hours).map(_.toLong * 3600 * 1000L).getOrElse(168L * 3600 * 1000L)))
      case RestoreRe(ident, _, version) =>
        maintPath(ident, "RESTORE TABLE").map(GraftRestoreCommand(_, version))
      case HistoryRe(ident) =>
        maintPath(ident, "DESCRIBE HISTORY").map(GraftHistoryCommand)
      case AnalyzeRe(ident, cols) =>
        maintPath(ident, "ANALYZE TABLE").map(p => GraftAnalyzeCommand(p,
          cols.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty).toSeq))
      case ShowDbRe() => Some(GraftShowDatabasesCommand())
      case ShowTablesRe(db) => Some(GraftShowTablesCommand(db))
      case ShowPartitionsRe(ident) =>
        maintPath(ident, "SHOW PARTITIONS").map(GraftShowPartitionsCommand)
      case DetailRe(ident) =>
        maintPath(ident, "DESCRIBE DETAIL").map(GraftDescribeDetailCommand)
      case DescRe(ident) =>
        maintPath(ident, "DESCRIBE TABLE").map(GraftDescribeTableCommand)
      case OptimizeRe(ident, wc, wv, x, y) =>
        val where = Option(wc).map(c => (c, wv))
        val zo = Option(x).map(xc => (xc, y))
        maintPath(ident, "OPTIMIZE").map(GraftOptimizeCommand(_, 4, zo, where))
      case _ => None
    }

    override def parsePlan(sqlText: String): LogicalPlan =
      parseMaintenance(sqlText).getOrElse(
        convertDdl(delegate.parsePlan(sqlText)).transformDown {
          case u: UnresolvedRelation if named(u) => substitute(session, u)
          case i: InsertIntoStatement => i.table match {
            case u: UnresolvedRelation if named(u) => i.copy(table = substitute(session, u))
            case _ => i
          }
        })
    override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
    override def parseExpression(sqlText: String): Expression =
      delegate.parseExpression(sqlText)
    override def parseTableIdentifier(sqlText: String): org.apache.spark.sql.catalyst.TableIdentifier =
      delegate.parseTableIdentifier(sqlText)
    override def parseFunctionIdentifier(sqlText: String): org.apache.spark.sql.catalyst.FunctionIdentifier =
      delegate.parseFunctionIdentifier(sqlText)
    override def parseMultipartIdentifier(sqlText: String): Seq[String] =
      delegate.parseMultipartIdentifier(sqlText)
    override def parseTableSchema(sqlText: String): org.apache.spark.sql.types.StructType =
      delegate.parseTableSchema(sqlText)
    override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
      delegate.parseDataType(sqlText)
    override def parseRoutineParam(sqlText: String): org.apache.spark.sql.types.StructType =
      delegate.parseRoutineParam(sqlText)
  }

  final class ResolveGraftMerge(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsUp {
        // substitute the addressed relation with the table's live
        // parquet plan (marker-wrapped); analysis proceeds natively
        case u: UnresolvedRelation if graftPath(u).isDefined =>
          substitute(u)
        // INSERT's target is a constructor FIELD, not a tree child —
        // substitute it explicitly, then convert once the query side
        // is resolved (the V1/V2 insert planners never see it)
        case i: InsertIntoStatement =>
          i.table match {
            case u: UnresolvedRelation if graftPath(u).isDefined =>
              i.copy(table = substitute(u))
            case t if i.query.resolved && markerOf(t).isDefined =>
              require(i.partitionSpec.isEmpty && !i.ifPartitionNotExists,
                "INSERT into graft tables does not take a static PARTITION spec " +
                  "(partition columns are ordinary data columns)")
              require(i.userSpecifiedCols.isEmpty,
                "INSERT into graft tables lists no column subset; insert full rows " +
                  "(or use MERGE INTO for partial-column writes)")
              val (path, base) = writable(t, "INSERT INTO")
              GraftInsertCommand(path, base,
                org.apache.spark.sql.types.StructType(
                  t.output.map(a => org.apache.spark.sql.types.StructField(
                    a.name, a.dataType, a.nullable))),
                i.query, i.overwrite, i.byName)
            case _ => i
          }
        // fully resolved merge over a marked target → our command
        case m: MergeIntoTable if m.resolved && markerOf(m.targetTable).isDefined =>
          val (path, base) = writable(m.targetTable, "MERGE INTO")
          GraftMergeCommand(path, base,
            m.targetTable.transformUp { case GraftTable(_, _, _, c) => c },
            m.sourceTable, m.mergeCondition,
            m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions)
        case up: UpdateTable if up.resolved && markerOf(up.table).isDefined =>
          val (path, base) = writable(up.table, "UPDATE")
          GraftUpdateCommand(path, base,
            up.table.transformUp { case GraftTable(_, _, _, c) => c },
            up.assignments, up.condition)
        case del: DeleteFromTable if del.resolved && markerOf(del.table).isDefined =>
          val (path, base) = writable(del.table, "DELETE")
          GraftDeleteCommand(path, base,
            del.table.transformUp { case GraftTable(_, _, _, c) => c },
            del.condition)
      }

    private def substitute(u: UnresolvedRelation): LogicalPlan =
      SqlMerge.substitute(spark, u)

    private def markerOf(t: LogicalPlan): Option[GraftTable] =
      t.collectFirst { case g: GraftTable => g }

    /** The DML target's path and the version it was read from. */
    private def writable(t: LogicalPlan, stmt: String): (String, String) = {
      val g = markerOf(t).get
      require(!g.pinned,
        s"$stmt cannot target the pinned snapshot ${g.path}@${g.version} — " +
          "time-travel reads are read-only; target the live table")
      (g.path, g.version)
    }
  }

  /** Strips the marker so SELECT paths plan the child natively. */
  object StripGraftTable extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformUp { case GraftTable(_, _, _, c) => c }
  }

  object GraftMergeStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case cmd: GraftMergeCommand => GraftCommandExec(s => SqlMerge.run(s, cmd)) :: Nil
      case cmd: GraftInsertCommand => GraftCommandExec(s => SqlMerge.runInsert(s, cmd)) :: Nil
      case cmd: GraftUpdateCommand => GraftCommandExec(s => SqlMerge.runUpdate(s, cmd)) :: Nil
      case cmd: GraftDeleteCommand => GraftCommandExec(s => SqlMerge.runDelete(s, cmd)) :: Nil
      case cmd: GraftCreateTableCommand =>
        GraftCommandExec(s => SqlMerge.runCreate(s, cmd)) :: Nil
      case cmd: GraftCtasCommand =>
        GraftCommandExec(s => SqlMerge.runCtas(s, cmd)) :: Nil
      case cmd: GraftAddColumnsCommand =>
        GraftCommandExec(s => graft.operators.TableMerge.addColumns(s, cmd.path, cmd.cols)) :: Nil
      case cmd: GraftRenameColumnCommand =>
        GraftCommandExec(s => graft.operators.TableMerge.renameColumn(
          s, cmd.path, cmd.from, cmd.to)) :: Nil
      case cmd: GraftDropColumnsCommand =>
        GraftCommandExec(s => graft.operators.TableMerge.dropColumns(
          s, cmd.path, cmd.cols, cmd.ifExists)) :: Nil
      case cmd: GraftDropTableCommand =>
        GraftCommandExec(_ => graft.operators.TableMerge.drop(cmd.path, cmd.ifExists)) :: Nil
      case cmd: GraftVacuumCommand =>
        GraftMaintenanceExec(cmd.output, _ => {
          // a typo'd path must error, not silently materialize an empty
          // pseudo-table dir via the commit-lock acquisition
          require(graft.operators.TableMerge.exists(cmd.path),
            s"no graft table at ${cmd.path}")
          Seq(org.apache.spark.sql.Row(
            graft.operators.TableMerge.expireVersions(cmd.path, cmd.retainMs).toLong))
        }) :: Nil
      case cmd: GraftOptimizeCommand =>
        GraftMaintenanceExec(cmd.output, s => Seq(org.apache.spark.sql.Row(
          cmd.zorderBy match {
            case Some((x, y)) =>
              graft.operators.TableMerge.zorder(s, cmd.path, x, y,
                scope = cmd.where).toLong
            case None =>
              require(cmd.where.isEmpty,
                "OPTIMIZE … WHERE without ZORDER BY is not supported — plain " +
                  "compaction is already unit-scoped (only overflowing units rewrite)")
              graft.operators.TableMerge.compact(s, cmd.path,
                graft.operators.TableMerge.partitionColsOf(cmd.path),
                maxFiles = cmd.maxFiles, targetFiles = 1).toLong
          }))) :: Nil
      case cmd: GraftRestoreCommand =>
        GraftMaintenanceExec(cmd.output, _ => Seq(org.apache.spark.sql.Row(
          graft.operators.TableMerge.restore(cmd.path, cmd.version)))) :: Nil
      case cmd: GraftAnalyzeCommand =>
        GraftCommandExec(s =>
          graft.operators.TableMerge.analyzeStats(s, cmd.path, cmd.cols)) :: Nil
      case cmd: GraftShowDatabasesCommand =>
        GraftMaintenanceExec(cmd.output, _ =>
          GraftCatalog.databases().map(org.apache.spark.sql.Row(_))) :: Nil
      case cmd: GraftShowTablesCommand =>
        GraftMaintenanceExec(cmd.output, _ =>
          GraftCatalog.tables(cmd.db).map(t =>
            org.apache.spark.sql.Row(cmd.db, t))) :: Nil
      case cmd: GraftDescribeDetailCommand =>
        GraftMaintenanceExec(cmd.output, _ => {
          // every fact from the ONE version the pointer named: a commit
          // landing mid-statement must not mix two snapshots in a row
          val (live, rec, entries) = liveSnapshotOf(cmd.path)
          Seq(org.apache.spark.sql.Row(
            "graft-parquet", cmd.path, live, entries.size.toLong, entries.map(_._2).sum,
            rec.logicalPartitionCols.mkString(","),
            TableMerge.versions(cmd.path).size.toLong,
            rec.statColumns.mkString(","),
            rec.columnMap.isDefined))
        }) :: Nil
      case cmd: GraftShowPartitionsCommand =>
        GraftMaintenanceExec(cmd.output, _ => {
          val (_, rec, entries) = liveSnapshotOf(cmd.path)
          require(rec.partitionCols.nonEmpty,
            s"SHOW PARTITIONS: table ${cmd.path} is not partitioned")
          // the partition dirs of the live manifest's files (zero
          // listing), each `col=` segment named by its LOGICAL column
          val names = rec.logicalPartitionCols.map(
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName)
          val rels = entries.map { case (rel, _) =>
            rel.split('/').dropRight(1).zip(names).map { case (seg, name) =>
              s"$name=${seg.substring(seg.indexOf('=') + 1)}"
            }.mkString("/")
          }.distinct
          rels.filter(_.nonEmpty).sorted.map(org.apache.spark.sql.Row(_))
        }) :: Nil
      case cmd: GraftDescribeTableCommand =>
        GraftMaintenanceExec(cmd.output, s => {
          val (live, rec, _) = liveSnapshotOf(cmd.path)
          val schema = graft.operators.TableMerge.readVersion(s, cmd.path, live).schema
          val partCols = rec.logicalPartitionCols
          val colRows = schema.fields.toSeq.map(f =>
            org.apache.spark.sql.Row(f.name, f.dataType.simpleString, null))
          val partRows =
            if (partCols.isEmpty) Seq.empty
            else org.apache.spark.sql.Row("# Partition Information", "", null) +:
              partCols.map { c =>
                val dt = schema.find(_.name.equalsIgnoreCase(c))
                  .map(_.dataType.simpleString).getOrElse("string")
                org.apache.spark.sql.Row(c, dt, null)
              }
          colRows ++ partRows
        }) :: Nil
      case cmd: GraftHistoryCommand =>
        GraftMaintenanceExec(cmd.output, _ => {
          val live = TableMerge.liveVersion(cmd.path)
          // a version VACUUM expires after the listing has no manifest: skip it
          TableMerge.versions(cmd.path).flatMap { v =>
            TableMerge.versionManifest(cmd.path, v).map { entries =>
              val meta = TableMerge.versionMeta(cmd.path, v).toSeq.sorted
                .map { case (k, x) => s"$k=$x" }.mkString(",")
              org.apache.spark.sql.Row(v, live.contains(v), entries.size.toLong, meta)
            }
          }
        }) :: Nil
      case GraftTable(_, _, _, child) => planLater(child) :: Nil
      case _ => Nil
    }
  }

  /** The live version of the graft table at `path` with its record and
    * manifest: the one snapshot an introspection statement answers from. */
  private def liveSnapshotOf(path: String) =
    graft.operators.TableMerge.liveSnapshot(path).getOrElse(
      throw new IllegalArgumentException(s"no graft table at $path"))

  /** Driver-side maintenance runner with a row-valued result (the
    * OPTIMIZE/VACUUM/RESTORE/HISTORY statements return small status
    * rows the way Delta's do — version counts, names, file counts). */
  final case class GraftMaintenanceExec(
      outAttrs: Seq[Attribute],
      body: SparkSession => Seq[org.apache.spark.sql.Row]) extends LeafExecNode {
    override def output: Seq[Attribute] = outAttrs
    override protected def doExecute(): RDD[InternalRow] = {
      val schema = org.apache.spark.sql.types.StructType(outAttrs.map(a =>
        org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(schema)
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      val rows: Seq[InternalRow] =
        body(session).map(r => proj(conv(r).asInstanceOf[InternalRow]).copy())
      sparkContext.parallelize(rows, 1)
    }
  }

  /** Runs a statement that returns no rows where the plan executes: DDL,
    * and DML, whose rows are written by the Spark jobs its commit runs. */
  final case class GraftCommandExec(run: SparkSession => Unit) extends LeafExecNode {
    override def output: Seq[Attribute] = Nil
    override protected def doExecute(): RDD[InternalRow] = {
      run(session)
      sparkContext.emptyRDD
    }
  }

  /** Evaluate one WHEN chain (first clause wins) over `df`, returning
    * the 1-based index of the firing clause (0 = none). */
  private def clauseIdx(actions: Seq[MergeAction]): Column = {
    actions.zipWithIndex.foldRight(lit(0)) { case ((a, i), rest) =>
      val c = a.condition.map(exprCol).getOrElse(lit(true))
      when(c, lit(i + 1)).otherwise(rest)
    }
  }

  /** The merged value of target column `attr` under a fired
    * UPDATE clause, else the current target value (`fallback`). */
  private def mergedValue(attr: Attribute, actions: Seq[MergeAction],
                          idx: Column, fallback: Column): Column =
    actions.zipWithIndex.foldRight(fallback) { case ((a, i), rest) =>
      a match {
        case u: UpdateAction =>
          val assigned = u.assignments.collectFirst {
            case Assignment(k: Attribute, v) if k.exprId == attr.exprId => exprCol(v)
          }
          assigned.map(v => when(idx === (i + 1), v).otherwise(rest)).getOrElse(rest)
        case _ => rest
      }
    }

  private def deleteFired(actions: Seq[MergeAction], idx: Column): Column =
    actions.zipWithIndex.collect { case (_: DeleteAction, i) => idx === (i + 1) }
      .foldLeft(lit(false))(_ || _)

  /** Attributes of the partition columns (LOGICAL names) of snapshot
    * `base` that a DML statement read; empty when the table is
    * unpartitioned, or when `base` has since expired (the commit then
    * fails on its base anyway). */
  private def partitionAttrs(path: String, base: String,
                             attrs: Seq[Attribute]): Seq[Attribute] =
    TableMerge.versionRecord(path, base)
      .fold(Seq.empty[String])(_.logicalPartitionCols)
      .map(c => attrs.find(_.name.equalsIgnoreCase(c)).get)

  /** Commit `result` — the whole table as a DML statement computed it
    * from snapshot `base` — through the engine's one row-level commit.
    * On a partitioned table the dropped groups are the `touched`
    * partitions (those holding an affected row, old home and new, the
    * null partition included): only they rewrite, from the result rows
    * that land in them, and every other file hard-links. Unpartitioned,
    * the result restates the table. */
  private def commitDml(spark: SparkSession, path: String, base: String, result: DataFrame,
                        partCols: Seq[String], touched: => DataFrame): Unit =
    if (partCols.isEmpty)
      TableMerge.replaceGroups(spark, path, Some(base), result, None, Seq.empty, Seq.empty)
    else {
      // frozen: the semi-join below and the commit's scope collect both
      // read it, and recomputing it re-runs the statement's plan
      val t = touched.distinct().localCheckpoint()
      TableMerge.replaceGroups(spark, path, Some(base),
        TableMerge.joinGroups(result, broadcast(t), partCols, "left_semi"), Some(t),
        partCols, partCols)
    }

  /** CREATE TABLE (no AS): commit an EMPTY versioned table whose
    * snapshot record carries the declared columns in read-back order
    * (data columns, then partition columns) — the zero-row snapshot the
    * record's schema exists for. */
  private[graft] def runCreate(spark: SparkSession, cmd: GraftCreateTableCommand): Unit = {
    if (TableMerge.exists(cmd.path)) {
      require(cmd.ifNotExists,
        s"graft table already exists at ${cmd.path} (use IF NOT EXISTS, " +
          "CREATE OR REPLACE … AS, or DROP TABLE first)")
    } else {
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), cmd.tableSchema)
      TableMerge.createOrReplace(empty, cmd.path, partitionCols = cmd.partitionCols)
    }
  }

  /** CTAS / CREATE OR REPLACE TABLE AS: materialize the query as the
    * table's first (or replacing) version. */
  private[graft] def runCtas(spark: SparkSession, cmd: GraftCtasCommand): Unit = {
    if (!cmd.orReplace && TableMerge.exists(cmd.path)) {
      require(cmd.ifNotExists,
        s"graft table already exists at ${cmd.path} (use CREATE OR REPLACE TABLE … AS)")
    } else {
      cmd.partitionCols.foreach(p =>
        require(cmd.query.output.exists(_.name.equalsIgnoreCase(p)),
          s"PARTITIONED BY column $p is not produced by the AS SELECT query"))
      TableMerge.createOrReplace(dataFrameOf(spark, cmd.query), cmd.path,
        partitionCols = cmd.partitionCols)
    }
  }

  private[graft] def runInsert(spark: SparkSession, cmd: GraftInsertCommand): Unit = {
    val q = dataFrameOf(spark, cmd.query)
    require(q.columns.length == cmd.targetSchema.length,
      s"INSERT INTO: ${cmd.targetSchema.length} target columns, " +
        s"got ${q.columns.length}")
    // positional (or by-name) alignment with casts to the table schema
    val aligned =
      if (cmd.byName) q.select(cmd.targetSchema.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      else q.select(q.columns.zip(cmd.targetSchema.toSeq).map { case (c, f) =>
        col(c).cast(f.dataType).as(f.name) }: _*)
    val partCols = partitionAttrs(cmd.path, cmd.base,
      aligned.queryExecution.analyzed.output).map(_.name)
    if (cmd.overwrite)
      TableMerge.createOrReplace(aligned, cmd.path, partitionCols = partCols)
    else if (partCols.nonEmpty)
      // an append drops no group: scoped by partition, it adds the new
      // rows' files beside the live ones and rewrites nothing
      TableMerge.replaceGroups(spark, cmd.path, Some(cmd.base), aligned,
        Some(aligned.select(partCols.map(col): _*).limit(0)), partCols, partCols)
    else
      TableMerge.replaceGroups(spark, cmd.path, Some(cmd.base),
        TableMerge.readVersion(spark, cmd.path, cmd.base).unionByName(aligned),
        None, Seq.empty, Seq.empty)
  }

  private[graft] def runUpdate(spark: SparkSession, cmd: GraftUpdateCommand): Unit = {
    val tgtAttrs = cmd.target.output
    val target = dataFrameOf(spark, cmd.target)
    val fires = cmd.condition.map(exprCol).getOrElse(lit(true))
    def updated(a: Attribute): Column = {
      val v = cmd.assignments.collectFirst {
        case Assignment(k: Attribute, value) if k.exprId == a.exprId => exprCol(value)
      }.getOrElse(exprCol(a))
      when(coalesce(fires, lit(false)), v).otherwise(exprCol(a))
    }
    val result = target.select(tgtAttrs.map(a => updated(a).as(a.name)): _*)
    val partAttrs = partitionAttrs(cmd.path, cmd.base, tgtAttrs)
    // ONE pass over the hit rows emits both homes (old partition and
    // post-update partition) via explode, instead of two target scans
    // unioned (r21); the distinct set is identical
    commitDml(spark, cmd.path, cmd.base, result, partAttrs.map(_.name),
      target.filter(coalesce(fires, lit(false))).select(explode(array(
        struct(partAttrs.map(a => exprCol(a).as(a.name)): _*),
        struct(partAttrs.map(a => updated(a).as(a.name)): _*))).as("__p"))
        .select(col("__p.*")))
  }

  private[graft] def runDelete(spark: SparkSession, cmd: GraftDeleteCommand): Unit = {
    val tgtAttrs = cmd.target.output
    val target = dataFrameOf(spark, cmd.target)
    val fires = coalesce(exprCol(cmd.condition), lit(false))
    val partAttrs = partitionAttrs(cmd.path, cmd.base, tgtAttrs)
    commitDml(spark, cmd.path, cmd.base, target.filter(!fires), partAttrs.map(_.name),
      target.filter(fires).select(partAttrs.map(a => exprCol(a).as(a.name)): _*))
  }

  private[graft] def run(spark: SparkSession, cmd: GraftMergeCommand): Unit = {
    val tgtAttrs = cmd.target.output
    val t0 = dataFrameOf(spark, cmd.target)
    val src = dataFrameOf(spark, cmd.source)
    // freeze a row id on the target so "same row" survives the join
    // algebra (a production engine keys on file+row-position metadata;
    // the checkpoint stands in for that stable row identity here)
    val t = t0.withColumn("__tid", monotonically_increasing_id()).localCheckpoint()
    val cond = exprCol(cmd.condition)

    val pairs = t.join(src, cond, "inner")

    def tCol(a: Attribute): Column = exprCol(a)

    // Delta semantics (ADVICE r16): a target row matched by several
    // source rows is legal as long as at most ONE of them fires a
    // matched clause — insert-only merges and fully conditional matched
    // clauses pass; only a row that would be updated/deleted twice is
    // the nondeterministic-merge error. Matched rows with no firing
    // clause pass through unchanged, ONCE (never one copy per match).
    // freeze the fired-clause rows (batch-bounded): they feed the
    // dup-check count, the merged projection, the pass-through
    // anti-join, AND the old-homes partition set — without the
    // checkpoint the full target⋈source evaluation re-runs four times
    val fired = pairs
      .withColumn("__idx", clauseIdx(cmd.matchedActions))
      .filter(col("__idx") > 0)
      .localCheckpoint()
    if (cmd.matchedActions.nonEmpty) {
      val dup = fired.groupBy("__tid").count().filter(col("count") > 1).limit(1).count()
      require(dup == 0L,
        "MERGE INTO: a target row would be updated or deleted by more than " +
          "one source row (nondeterministic merge); make the ON condition selective")
    }
    val firedOut = fired
      .withColumn("__del", deleteFired(cmd.matchedActions, col("__idx")))
      .filter(!col("__del"))
      .select(Seq(col("__tid"), col("__idx")) ++ tgtAttrs.map(a =>
        mergedValue(a, cmd.matchedActions, col("__idx"), tCol(a)).as(a.name)): _*)
    val passThrough = t.join(src, cond, "left_semi")
      .join(fired.select("__tid"), Seq("__tid"), "left_anti")
      .select(Seq(col("__tid"), lit(0).as("__idx")) ++ tgtAttrs.map(a =>
        tCol(a).as(a.name)): _*)
    val matchedOut = firedOut.unionByName(passThrough)

    val unmatchedT = t.join(src, cond, "left_anti")
    val unmatchedOut = unmatchedT
      .withColumn("__idx", clauseIdx(cmd.notMatchedBySourceActions))
      .withColumn("__del", deleteFired(cmd.notMatchedBySourceActions, col("__idx")))
      .filter(!col("__del"))
      .select(Seq(col("__tid"), col("__idx")) ++ tgtAttrs.map(a =>
        mergedValue(a, cmd.notMatchedBySourceActions, col("__idx"),
          tCol(a)).as(a.name)): _*)

    val inserted = src.join(t, cond, "left_anti")
      .withColumn("__idx", clauseIdx(cmd.notMatchedActions))
      .filter(col("__idx") > 0)
      .select(Seq(lit(null).cast("long").as("__tid"), col("__idx")) ++ tgtAttrs.map { a =>
        cmd.notMatchedActions.zipWithIndex.foldRight(lit(null).cast(a.dataType)) {
          case ((ins: InsertAction, i), rest) =>
            ins.assignments.collectFirst {
              case Assignment(k: Attribute, v) if k.exprId == a.exprId => exprCol(v)
            }.map(v => when(col("__idx") === (i + 1), v).otherwise(rest)).getOrElse(rest)
          case (_, rest) => rest
        }.as(a.name)
      }: _*)

    val result = matchedOut.unionByName(unmatchedOut).unionByName(inserted)
      .drop("__tid", "__idx")

    // the partitions holding an affected row: the old home of every
    // fired-clause row, the new home of every updated / inserted row
    val partAttrs = partitionAttrs(cmd.path, cmd.base, tgtAttrs)
    val partCols = partAttrs.map(_.name)
    commitDml(spark, cmd.path, cmd.base, result, partCols, {
      val oldHomes = fired
        .select(partAttrs.map(a => tCol(a).as(a.name)): _*)
        .unionByName(unmatchedT
          .filter(clauseIdx(cmd.notMatchedBySourceActions) > 0)
          .select(partAttrs.map(a => tCol(a).as(a.name)): _*))
      val newHomes = matchedOut.filter(col("__idx") > 0).select(partCols.map(col): _*)
        .unionByName(unmatchedOut.filter(col("__idx") > 0).select(partCols.map(col): _*))
        .unionByName(inserted.select(partCols.map(col): _*))
      oldHomes.unionByName(newHomes)
    })
  }
}
