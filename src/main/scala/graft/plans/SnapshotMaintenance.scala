package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.{Catalog, SnapshotLog}

/** SQL maintenance verbs on commit-log tables — `OPTIMIZE`, `VACUUM`,
  * `RESTORE … TO VERSION AS OF` — via a DELEGATING parser extension
  * (`SparkSessionExtensions.injectParser`, the Delta/Iceberg model for
  * verbs outside Spark's grammar).
  *
  * The parser intercepts exactly three statement shapes, and ONLY when
  * the named table is a registered snapshot-DML target — everything
  * else (including these verbs on unknown names) falls through to
  * Spark's own parser verbatim, so the extension cannot change the
  * meaning of any statement Spark already accepts (OPTIMIZE/VACUUM/
  * RESTORE are not ANSI or Spark grammar; an unmatched one keeps
  * Spark's own parse error). Each verb compiles to a
  * [[LeafRunnableCommand]] over the Scala API the engine already has —
  * SQL adds surface, never a second implementation — and re-pins the
  * view after any commit so follow-up SELECTs on the same name read
  * the new snapshot.
  *
  * Grammar (case-insensitive, optional trailing `;`):
  * {{{
  *   OPTIMIZE <view> [WHERE <partition predicate>] [ZORDER BY (col [, col]*)]
  *   VACUUM <view> [RETAIN <n> HOURS] [DRY RUN]
  *   RESTORE [TABLE] <view> TO VERSION AS OF <version>
  *   RESTORE [TABLE] <view> TO TIMESTAMP AS OF '<ts>'
  *   DESCRIBE HISTORY <view>
  *   DESCRIBE DETAIL <view>
  *   SHOW PARTITIONS <view>
  *   ANALYZE [TABLE] <view> COMPUTE STATISTICS FOR COLUMNS <cols>
  *   ANALYZE [TABLE] <view> COMPUTE STATISTICS FOR ALL COLUMNS
  *   CREATE BLOOMFILTER INDEX ON <view> (<cols>)
  *   CREATE TABLE <db>.<name> SHALLOW|DEEP CLONE <view> LOCATION '<path>'
  *   ALTER TABLE <view> ADD CONSTRAINT <name> CHECK (<expr>)
  *   ALTER TABLE <view> DROP CONSTRAINT <name>
  *   ALTER TABLE <view> ADD COLUMNS (<name> <type> [, ...])
  *   ALTER TABLE <view> RENAME COLUMN <a> TO <b>
  *   ALTER TABLE <view> DROP COLUMN <c>
  *   ALTER TABLE <view> REPARTITION BY (<cols>)   -- partition evolution
  *   TRUNCATE TABLE <view>
  *   DROP TABLE [IF EXISTS] <view> [PURGE]
  *   SHOW CREATE TABLE <view>
  *   EXPIRE VERSIONS ON <view> KEEP LAST <n>
  *   ALTER TABLE <view> SET TBLPROPERTIES ('k' = 'v' [, ...])
  *   ALTER TABLE <view> UNSET TBLPROPERTIES ('k' [, ...])
  *   SHOW TBLPROPERTIES <view>
  *   COPY INTO <view> FROM '<path>' FILEFORMAT = <fmt> [PATTERN = '<glob>']
  * }}}
  */
class SnapshotMaintenanceParser(delegate: ParserInterface)
  extends ParserInterface {

  private val Optimize =
    """(?is)\s*OPTIMIZE\s+([A-Za-z_][\w.]*)(?:\s+WHERE\s+(.+?))??(?:\s+ZORDER\s+BY\s*\(\s*([^)]+?)\s*\))?\s*;?\s*""".r
  private val Vacuum =
    """(?is)\s*VACUUM\s+([A-Za-z_][\w.]*)(?:\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val Restore =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTs =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val History =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([A-Za-z_][\w.]*)\s*;?\s*""".r
  // single-part names only (no dots): a registered view is the one
  // surface that PINS a snapshot and so can go stale; Spark's own
  // REFRESH TABLE on catalog names must keep its native meaning
  private val RefreshV =
    """(?is)\s*REFRESH\s+(?:TABLE\s+)?([A-Za-z_]\w*)\s*;?\s*""".r
  // every verb regex accepts DOTTED names ([\w.]*) — resolution still
  // gates on isTarget, whose catalogTarget fallback maps
  // <cat>.<ns…>.<t> to the GraftCatalog directory; single-part names
  // stay registry-only, so nothing Spark itself parses is shadowed
  // (these verbs are outside Spark's grammar, except ALTER COLUMN TYPE
  // where the interception deliberately supplies widening semantics)
  private val Generate =
    """(?is)\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+([A-Za-z_][\w.]*)\s*;?\s*""".r
  private val Analyze =
    """(?is)\s*ANALYZE\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s+COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s+([\w`,\s]+?)\s*;?\s*""".r
  private val AnalyzeAll =
    """(?is)\s*ANALYZE\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s+COMPUTE\s+STATISTICS\s+FOR\s+ALL\s+COLUMNS\s*;?\s*""".r
  private val BloomIndex =
    """(?is)\s*CREATE\s+BLOOMFILTER\s+INDEX\s+ON\s+([A-Za-z_][\w.]*)\s*\(([\w`,\s]+?)\)\s*;?\s*""".r
  private val CloneStmt =
    """(?is)\s*CREATE\s+TABLE\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s+(SHALLOW|DEEP)\s+CLONE\s+([A-Za-z_][\w.]*)\s+LOCATION\s+'([^']+)'\s*;?\s*""".r
  private val AddConstraint =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+ADD\s+CONSTRAINT\s+([A-Za-z_]\w*)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraint =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+DROP\s+CONSTRAINT\s+([A-Za-z_]\w*)\s*;?\s*""".r
  private val ShowParts =
    """(?is)\s*SHOW\s+PARTITIONS\s+([A-Za-z_][\w.]*)\s*;?\s*""".r
  private val Detail =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([A-Za-z_][\w.]*)\s*;?\s*""".r
  private val AddColumns =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+ADD\s+COLUMNS?\s*\(\s*(.+?)\s*\)\s*;?\s*""".r
  private val ExpireVersions =
    """(?is)\s*EXPIRE\s+VERSIONS\s+ON\s+([A-Za-z_][\w.]*)\s+KEEP\s+LAST\s+(\d+)\s*;?\s*""".r
  private val ShowCreate =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_]\w*)\s*;?\s*""".r
  private val Truncate =
    """(?is)\s*TRUNCATE\s+TABLE\s+([A-Za-z_]\w*)\s*;?\s*""".r
  private val DropTable =
    """(?is)\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)(\s+PURGE)?\s*;?\s*""".r
  private val RenameColumn =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+RENAME\s+COLUMN\s+`?([A-Za-z_]\w*)`?\s+TO\s+`?([A-Za-z_]\w*)`?\s*;?\s*""".r
  // partition evolution: empty list () = un-partition for new writes
  private val Repartition =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+REPARTITION\s+BY\s*\(\s*([\w`,\s]*?)\s*\)\s*;?\s*""".r
  // parens anchored as a MATCHED pair (an unbalanced `(c` or `c)` falls
  // through to the delegate instead of silently parsing); the paren
  // form accepts a multi-column list
  private val DropColumn =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+DROP\s+COLUMNS?(?:\s*\(\s*([^()]+?)\s*\)|\s+`?([A-Za-z_]\w*)`?)\s*;?\s*""".r
  private val SetProps =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+SET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*;?\s*""".r
  private val UnsetProps =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+UNSET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*;?\s*""".r
  private val ShowProps =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+([A-Za-z_]\w*)\s*;?\s*""".r
  /** One `'k' = 'v'` pair inside SET TBLPROPERTIES. Values support the
    * SQL doubled-quote escape (`''` → `'`) — a generated-column
    * expression like `CONCAT(''d'', …)` must survive as one value. */
  private val PropPair =
    """'((?:[^'\\]|\\.|'')*)'\s*=\s*'((?:[^'\\]|\\.|'')*)'""".r

  private def unq(s: String): String = s.replace("''", "'")
  private val SyncIdentity =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+SYNC\s+IDENTITY\s*;?\s*""".r
  // widening-only metadata retype; the delegate parses the type DDL
  // (commas inside DECIMAL(10,2) are its problem)
  private val AlterColType =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+ALTER\s+COLUMN\s+`?([A-Za-z_]\w*)`?\s+TYPE\s+(.+?)\s*;?\s*""".r
  private val Fsck =
    """(?is)\s*FSCK\s+REPAIR\s+TABLE\s+([A-Za-z_][\w.]*)(\s+DRY\s+RUN)?\s*;?\s*""".r
  // CONVERT TO GRAFT_SNAPSHOT '<dir>' PARTITIONED BY (col) AS db.name
  // — in-place adoption of an existing parquet directory
  private val ConvertTo =
    """(?is)\s*CONVERT\s+TO\s+GRAFT_SNAPSHOT\s+'([^']+)'\s+PARTITIONED\s+BY\s*\(\s*`?([A-Za-z_]\w*)`?\s*\)\s+AS\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*;?\s*""".r
  private val CopyInto =
    """(?is)\s*COPY\s+INTO\s+([A-Za-z_][\w.]*)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)(?:\s+PATTERN\s*=\s*'([^']+)')?\s*;?\s*""".r
  // Delta's INSERT … REPLACE WHERE; the predicate runs up to the first
  // top-level SELECT (Column-grammar predicates only — a predicate
  // containing a subquery SELECT falls outside this surface)
  private val InsertReplaceWhere =
    """(?is)\s*INSERT\s+INTO\s+([A-Za-z_][\w.]*)\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\b.+?)\s*;?\s*""".r

  private def isTarget(view: String): Boolean =
    Catalog.dmlTarget(view).isDefined

  private def splitCols(s: String): Seq[String] =
    s.split(",").toSeq.map(_.trim.stripPrefix("`").stripSuffix("`"))
      .filter(_.nonEmpty)

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case History(view) if isTarget(view) =>
      SnapshotHistoryCommand(view)
    case RefreshV(view) if isTarget(view) =>
      SnapshotRefreshCommand(view)
    case Generate(view) if isTarget(view) =>
      SnapshotGenerateManifestCommand(view)
    case CloneStmt(db, name, kind, srcView, location) if isTarget(srcView) =>
      SnapshotCloneCommand(db, name, srcView, location,
        deep = kind.equalsIgnoreCase("DEEP"))
    case AnalyzeAll(view) if isTarget(view) =>
      SnapshotAnalyzeCommand(view, Nil) // Nil = every bounds-capable column
    case Analyze(view, cols) if isTarget(view) =>
      SnapshotAnalyzeCommand(view, splitCols(cols))
    case BloomIndex(view, cols) if isTarget(view) =>
      SnapshotBloomIndexCommand(view, splitCols(cols))
    case AddConstraint(view, name, check) if isTarget(view) =>
      SnapshotAddConstraintCommand(view, name, check.trim)
    case DropConstraint(view, name) if isTarget(view) =>
      SnapshotDropConstraintCommand(view, name)
    case AddColumns(view, colsDdl) if isTarget(view) =>
      // the DELEGATE parses the column list — commas inside types
      // (DECIMAL(10,2)) are its problem, not a regex split's
      SnapshotAddColumnsCommand(view, delegate.parseTableSchema(colsDdl))
    case RenameColumn(view, from, to) if isTarget(view) =>
      SnapshotRenameColumnCommand(view, from, to)
    case Repartition(view, cols) if isTarget(view) =>
      SnapshotRepartitionCommand(view, splitCols(cols))
    case DropColumn(view, list, bare) if isTarget(view) =>
      SnapshotDropColumnCommand(view,
        Option(list).map(splitCols).getOrElse(Seq(bare)))
    case ShowCreate(view) if isTarget(view) =>
      SnapshotShowCreateCommand(view)
    case ExpireVersions(view, keep) if isTarget(view) =>
      SnapshotExpireVersionsCommand(view, keep.toInt)
    case Truncate(view) if isTarget(view) =>
      SnapshotTruncateCommand(view)
    case DropTable(view, purge) if isTarget(view) =>
      SnapshotDropTableCommand(view, purge != null)
    case SetProps(view, pairs) if isTarget(view) =>
      SnapshotSetPropertiesCommand(view,
        PropPair.findAllMatchIn(pairs)
          .map(m => unq(m.group(1)) -> unq(m.group(2))).toMap)
    case UnsetProps(view, keys) if isTarget(view) =>
      // same ''-escape awareness as SET's PropPair: a key SET with an
      // embedded quote must be UNSET-able through the same SQL surface
      SnapshotUnsetPropertiesCommand(view,
        """'((?:[^'\\]|\\.|'')*)'""".r.findAllMatchIn(keys)
          .map(m => unq(m.group(1))).toSeq)
    case ShowProps(view) if isTarget(view) =>
      SnapshotShowPropertiesCommand(view)
    case ShowParts(view) if isTarget(view) =>
      SnapshotShowPartitionsCommand(view)
    case Detail(view) if isTarget(view) =>
      SnapshotDetailCommand(view)
    case InsertReplaceWhere(view, pred, query) if isTarget(view) =>
      SnapshotReplaceWhereCommand(view, pred.trim, query.trim)
    case SyncIdentity(view) if isTarget(view) =>
      SnapshotSyncIdentityCommand(view)
    case AlterColType(view, colName, typeDdl) if isTarget(view) =>
      SnapshotAlterColumnTypeCommand(view, colName,
        delegate.parseDataType(typeDdl))
    case Fsck(view, dry) if isTarget(view) =>
      SnapshotFsckCommand(view, dryRun = dry != null)
    case ConvertTo(path, partCol, db, name) =>
      // no isTarget guard: the whole point is the table is not one yet
      SnapshotConvertCommand(path, partCol, db, name)
    case CopyInto(view, src, format, pattern) if isTarget(view) =>
      SnapshotCopyIntoCommand(view, src, format.toLowerCase,
        Option(pattern))
    case Optimize(view, where, zorder) if isTarget(view) =>
      val cols = Option(zorder).toSeq.flatMap(_.split(",").toSeq)
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
      SnapshotOptimizeCommand(view, cols, Option(where).map(_.trim))
    case Vacuum(view, hours, dry) if isTarget(view) =>
      SnapshotVacuumCommand(view,
        Option(hours).map(_.toLong * 3600L * 1000L),
        dryRun = dry != null)
    case Restore(view, v) if isTarget(view) =>
      SnapshotRestoreCommand(view, v.toLong)
    case RestoreTs(view, ts) if isTarget(view) =>
      SnapshotRestoreTsCommand(view, ts)
    case _ => delegate.parsePlan(sqlText)
  }

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
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

private object SnapshotMaintenance {
  /** The value columns the table's manifest already records bounds
    * for — a maintenance rewrite re-records exactly these, so stats
    * pruning SURVIVES OPTIMIZE instead of silently degrading (the
    * bookkeeping keys `__rows`/`__bytes` are re-derived by the write
    * path itself). */
  def statsColsOf(m: SnapshotLog.Manifest): Seq[String] =
    (m.stats.values.flatMap(_.keys).toSet -
      SnapshotLog.RowCountKey - SnapshotLog.ByteSizeKey --
      m.dropped)
      // bookkeeping keys are not columns: `__nn:<col>` carries the
      // column's non-null count (the COUNT(col) fold's input)
      .filterNot(_.startsWith("__nn:"))
      .toSeq.sorted

  def target(view: String): (String, String) = {
    val (path, partCol, _, _) = Catalog.dmlTarget(view).getOrElse(
      sys.error(s"$view is not a registered snapshot-DML target"))
    (path, partCol)
  }
}

/** `OPTIMIZE view` — compaction as ONE transaction
  * ([[SnapshotLog.optimizeTable]]); with `ZORDER BY (cols)` every
  * selected partition is instead range-clustered on the key(s) so file
  * bounds become selective. `WHERE <partition predicate>` restricts
  * maintenance to matching partitions (Delta's OPTIMIZE predicate):
  * the predicate evaluates against partition VALUES only — pure
  * metadata, no data scan. Either way the statement is one commit. */
case class SnapshotOptimizeCommand(
    view: String, zorderBy: Seq[String], where: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("n_files_before", LongType, nullable = false)(),
    AttributeReference("n_files_after", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, expr}
    val (path, partCol) = SnapshotMaintenance.target(view)
    val bp = new org.apache.hadoop.fs.Path(path)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m0 = SnapshotLog.readManifest(fs, bp).getOrElse(
      sys.error(s"$view has no committed version"))
    val statsCols = SnapshotMaintenance.statsColsOf(m0)
    // WHERE: select partitions by VALUE (metadata only; the tiny
    // one-column frame exists so the predicate resolves with Spark's
    // own semantics instead of a hand-rolled string compare)
    val selected: Option[Seq[String]] = where.map { w =>
      import scala.jdk.CollectionConverters._
      import spark.implicits._
      val pcs = SnapshotLog.partColsOf(partCol)
      require(pcs.nonEmpty,
        s"OPTIMIZE WHERE on $view: the table is unpartitioned — " +
          "there are no partition values to select; drop the WHERE")
      // manifest keys decomposed into one string column per declared
      // partition column, so the predicate may reference any of them
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("__pv",
          org.apache.spark.sql.types.StringType) +:
          pcs.map(c => org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType)))
      val rows = m0.files.keySet.toSeq.sorted.map(k => Row.fromSeq(
        k +: SnapshotLog.partKeyComponents(k, pcs.size)))
      val picked = spark.createDataFrame(rows.asJava, schema)
        .filter(expr(w)).select(col("__pv")).as[String].collect().toSeq
      require(picked.nonEmpty,
        s"OPTIMIZE WHERE matched no partition of $view")
      picked
    }
    // ZORDER keeps each partition's file count: as many range-clustered
    // files as the selected partitions hold on average, so each file
    // covers a tight key range
    val clusterFiles = {
      val ps = selected.getOrElse(m0.files.keySet.toSeq)
      val n = ps.map(p => m0.files.getOrElse(p, Nil).size).sum
      math.max(1, math.ceil(n.toDouble / math.max(ps.size, 1)).toInt)
    }
    val v = SnapshotLog.optimizeTable(spark, path, partCol,
      statsCols = (statsCols ++ zorderBy).distinct.sorted,
      parts = selected, zorderBy = zorderBy, clusterFiles = clusterFiles)
    SnapshotDml.repin(spark, view)
    val after = SnapshotLog.readManifest(fs, bp)
      .map(_.allFiles.size.toLong).getOrElse(0L)
    Seq(Row(if (zorderBy.isEmpty) "OPTIMIZE" else "OPTIMIZE ZORDER",
      v, m0.allFiles.size.toLong, after))
  }
}

/** `DESCRIBE HISTORY view` — one row per committed version, newest
  * first, straight from [[SnapshotLog.history]] (root-manifest pointer
  * rollups on sharded tables: zero shard opens, zero data IO). */
case class SnapshotHistoryCommand(view: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp",
      org.apache.spark.sql.types.TimestampType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("n_partitions", LongType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_deleted_rows", LongType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    SnapshotLog.history(spark, path).collect().toSeq
  }
}

/** `GENERATE symlink_format_manifest FOR TABLE view` — Delta's interop
  * verb: export the live snapshot's file list for Hive-symlink readers
  * ([[SnapshotLog.generateSymlinkManifest]]; refuses on DV-carrying
  * snapshots a file list cannot represent). */
case class SnapshotGenerateManifestCommand(view: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("n_partitions", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    Seq(Row("GENERATE symlink_format_manifest",
      SnapshotLog.generateSymlinkManifest(spark, path)))
  }
}

/** `SHOW PARTITIONS view` — partition name, live file count, and
  * metadata row count (−1 when unrecorded), answered from the ROOT
  * manifest alone ([[SnapshotLog.partitionSummary]]): O(1) reads on a
  * sharded table, never a data scan. Intercepted only for registered
  * snapshot views — Spark's own SHOW PARTITIONS on catalog tables is
  * untouched. */
case class SnapshotShowPartitionsCommand(view: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val bp = new org.apache.hadoop.fs.Path(path)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLog.partitionSummary(fs, bp).map {
      case (p, nf, nr) => Row(p, nf, nr)
    }
  }
}

/** `ANALYZE view COMPUTE STATISTICS FOR COLUMNS a, b` — lift
  * per-file min/max bounds for the named columns into the manifest
  * as a metadata-only commit ([[SnapshotLog.computeStats]]); value
  * predicates on them prune files at plan time from then on. */
case class SnapshotAnalyzeCommand(view: String, cols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    // FOR ALL COLUMNS (cols empty): every bounds-capable column of the
    // live schema — atomic orderable types whose min/max canonical
    // strings the pruning layer understands; arrays/binary/structs
    // have no usable bounds and are skipped
    val effective =
      if (cols.nonEmpty) cols
      else {
        import org.apache.spark.sql.types._
        val bp = new org.apache.hadoop.fs.Path(path)
        val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        SnapshotLog.readManifest(fs, bp)
          .flatMap(_.schema).map(_.fields.toSeq).getOrElse(Nil)
          .filter(_.dataType match {
            case _: NumericType | StringType | DateType | TimestampType => true
            case _ => false
          }).map(_.name)
      }
    require(effective.nonEmpty,
      s"$view has no bounds-capable columns to analyze")
    val v = SnapshotLog.computeStats(spark, path, effective)
    SnapshotDml.repin(spark, view)
    Seq(Row("ANALYZE", v))
  }
}

/** `CREATE BLOOMFILTER INDEX ON view (cols)` — per-file blooms over
  * the named long-typed columns, committed metadata-only
  * ([[SnapshotLog.buildBlooms]]); point lookups on them become
  * file-prunable (the Delta bloom-index statement). */
case class SnapshotBloomIndexCommand(view: String, cols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.buildBlooms(spark, path, cols)
    SnapshotDml.repin(spark, view)
    Seq(Row("CREATE BLOOMFILTER INDEX", v))
  }
}

/** `CREATE TABLE db.name SHALLOW|DEEP CLONE view LOCATION 'path'` —
  * fork the source's current snapshot. SHALLOW
  * ([[SnapshotLog.cloneTable]]) is the zero-copy form: v1 references
  * the source's data files by absolute path and diverges
  * copy-on-write. DEEP ([[SnapshotLog.deepCloneTable]]) copies every
  * live data file (and DV sidecar), so the clone survives the source
  * being vacuumed or dropped. Both register for name-based SQL
  * (including DML) in the same statement. */
case class SnapshotCloneCommand(
    db: String, name: String, srcView: String, location: String,
    deep: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("view", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (srcPath, partCol) = SnapshotMaintenance.target(srcView)
    val v =
      if (deep) SnapshotLog.deepCloneTable(spark, srcPath, location)
      else SnapshotLog.cloneTable(spark, srcPath, location)
    val view = Catalog.registerSnapshotLog(spark, db, name, location,
      Some(partCol))
    Seq(Row(if (deep) "DEEP CLONE" else "SHALLOW CLONE", v, view))
  }
}

/** `ALTER TABLE view ADD CONSTRAINT name CHECK (expr)` — validates
  * the live data, then commits the constraint metadata-only
  * ([[SnapshotLog.addConstraint]]); every later write batch is gated
  * on it. */
case class SnapshotAddConstraintCommand(
    view: String, name: String, checkSql: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("constraint", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.addConstraint(spark, path, name, checkSql)
    SnapshotDml.repin(spark, view)
    Seq(Row("ADD CONSTRAINT", v, s"$name CHECK ($checkSql)"))
  }
}

/** `ALTER TABLE view DROP CONSTRAINT name` — metadata-only. */
case class SnapshotDropConstraintCommand(view: String, name: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("constraint", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.dropConstraint(spark, path, name)
    SnapshotDml.repin(spark, view)
    Seq(Row("DROP CONSTRAINT", v, name))
  }
}

/** `ALTER TABLE view ADD COLUMNS (name type, …)` — metadata-only
  * schema evolution: the manifest's schema header widens (new fields
  * nullable, appended), ZERO data files touched. Every existing row
  * immediately reads the new columns as NULL (parquet backfills
  * missing columns), and the next write may carry them. The same
  * append-nullable rule the write path's implicit evolution follows —
  * this statement just makes it available WITHOUT a write. */
case class SnapshotAddColumnsCommand(view: String, newCols: StructType)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("columns", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val version = SnapshotLog.addColumns(spark, path, newCols)
    SnapshotDml.repin(spark, view)
    Seq(Row("ADD COLUMNS", version,
      newCols.fields.map(f => s"${f.name} ${f.dataType.sql}")
        .mkString(", ")))
  }
}

/** `EXPIRE VERSIONS ON view KEEP LAST n` — the SQL surface for
  * [[graft.sources.SnapshotLog.expireVersions]]: manifests (and their
  * coupled change-feed dirs) of all but the newest n versions are
  * deleted, severing the references that pin replaced data files so a
  * following VACUUM can reclaim them. Time travel to expired versions
  * is gone by design; the retained versions are byte-identical. */
case class SnapshotExpireVersionsCommand(view: String, keepLast: Int)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("n_expired", LongType, nullable = false)(),
    AttributeReference("newest_expired", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val expired = SnapshotLog.expireVersions(spark, path, keepLast)
    Seq(Row("EXPIRE VERSIONS", expired.size.toLong,
      expired.lastOption.getOrElse(-1L)))
  }
}

/** `REFRESH [TABLE] view` — re-pin a REGISTERED snapshot view at the
  * table's LIVE committed version. Registration pins a snapshot
  * (`createOrReplaceTempView` stores the analyzed plan), and only
  * view-routed SQL DML re-pins it — so a write through any OTHER
  * surface (`df.write.format("graft")`, the Scala API, another
  * engine, or an out-of-band `repartitionTable`) leaves the view
  * serving the pinned (stale) snapshot. This is the standard Spark
  * remedy spelled the standard way: one statement, the view tracks
  * the live table again. The partition layout is re-resolved from
  * the LIVE manifest ([[graft.sources.SnapshotLog.PartColProp]]) —
  * not the registration's cached value — so a refresh after an
  * out-of-band partition evolution also heals the DML routing
  * registry. Returns (operation, version re-pinned at). */
case class SnapshotRefreshCommand(view: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, storedPartCol, db, name) = Catalog.dmlTarget(view).getOrElse(
      sys.error(s"$view is not a registered snapshot-DML target"))
    val bp = new org.apache.hadoop.fs.Path(path)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLog.readManifest(fs, bp).getOrElse(
      sys.error(s"$view has no committed version at $path"))
    val partCol = m.props.getOrElse(SnapshotLog.PartColProp, storedPartCol)
    Catalog.registerSnapshotLog(spark, db, name, path, Some(partCol))
    Seq(Row("REFRESH", m.version))
  }
}

/** `ALTER TABLE view REPARTITION BY (c1[, c2…])` — the SQL surface
  * for [[graft.sources.SnapshotLog.repartitionTable]] (partition
  * evolution, Iceberg spec-v2 semantics): a METADATA-ONLY layout
  * change — zero files move; existing partitions stay keyed under
  * their original layout, new writes route under the new one, and
  * rewrites migrate incrementally. `REPARTITION BY ()` un-partitions
  * the table for new writes. The registration (and any catalog
  * caller) re-resolves the layout from the manifest; the registry
  * entry is refreshed here so follow-up SQL DML routes by the NEW
  * layout immediately. */
case class SnapshotRepartitionCommand(view: String, cols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val newPartCol = cols.mkString(",")
    val (path, _, db, name) = Catalog.dmlTarget(view).getOrElse(
      sys.error(s"$view is not a registered snapshot-DML target"))
    val v = SnapshotLog.repartitionTable(spark, path, newPartCol)
    // refresh the registration's cached layout + re-pin the view so
    // follow-up DML on the same name routes by the new layout
    Catalog.registerSnapshotLog(spark, db, name, path, Some(newPartCol))
    Seq(Row("REPARTITION", v))
  }
}

/** `SHOW CREATE TABLE view` — the reconstructable DDL, answered from
  * the manifest alone (zero data IO): columns from the logical schema
  * header, the partition column, LOCATION, table properties, and
  * CHECK constraints as ALTER statements. What it prints is
  * executable: the CTAS-less `CREATE TABLE … USING graft_snapshot`
  * shape plus the ALTERs reproduces the table's metadata surface. */
case class SnapshotShowCreateCommand(view: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("createtab_stmt", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, partCol) = SnapshotMaintenance.target(view)
    val bp = new org.apache.hadoop.fs.Path(path)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLog.readManifest(fs, bp).getOrElse(
      sys.error(s"$view has no committed version"))
    val sc = m.schema.get
    def q(s: String): String = s.replace("'", "''")
    val cols = sc.fields.map(f => s"  ${f.name} ${f.dataType.sql}")
      .mkString(",\n")
    val props = m.props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"'${q(k)}' = '${q(v)}'" }
    val ddl = new StringBuilder
    ddl ++= s"CREATE TABLE $view (\n$cols\n) USING graft_snapshot\n"
    if (partCol.nonEmpty) ddl ++= s"PARTITIONED BY ($partCol)\n"
    ddl ++= s"LOCATION '${q(path)}'"
    if (props.nonEmpty)
      ddl ++= props.mkString("\nTBLPROPERTIES (\n  ", ",\n  ", "\n)")
    ddl ++= ";"
    m.constraints.toSeq.sortBy(_._1).foreach { case (n, check) =>
      ddl ++= s"\nALTER TABLE $view ADD CONSTRAINT $n CHECK ($check);"
    }
    Seq(Row(ddl.toString))
  }
}

/** `TRUNCATE TABLE view` — metadata-only delete-everything
  * ([[graft.sources.SnapshotLog.truncateTable]]): the manifest
  * empties, txn watermarks survive (exactly-once must not reset),
  * old versions still time-travel to the data. */
/** `INSERT INTO view REPLACE WHERE <pred> SELECT …` — Delta's atomic
  * predicate-region backfill as SQL, over
  * [[graft.sources.SnapshotLog.replaceWhere]] (one commit; the batch
  * must itself satisfy the predicate). The source query parses and
  * runs through Spark's own grammar. */
case class SnapshotReplaceWhereCommand(
    view: String, predSql: String, querySql: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("n_dropped_partitions", LongType, nullable = false)(),
    AttributeReference("n_rewritten_partitions", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, partCol) = SnapshotMaintenance.target(view)
    val out = SnapshotLog.replaceWhere(spark, path, spark.sql(querySql),
      org.apache.spark.sql.functions.expr(predSql), partCol)
      .getOrElse(sys.error(s"$view has no committed version"))
    SnapshotDml.repin(spark, view)
    Seq(Row("REPLACE WHERE", out.version,
      out.droppedPartitions.size.toLong,
      out.rewrittenPartitions.size.toLong))
  }
}

case class SnapshotTruncateCommand(view: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.truncateTable(spark, path)
    SnapshotDml.repin(spark, view)
    Seq(Row("TRUNCATE", v))
  }
}

/** `DROP TABLE view [PURGE]` — unregisters the view and its DML
  * target (external-table semantics: the commit log stays on disk and
  * can re-register); `PURGE` deletes the table directory too. Only
  * intercepted for REGISTERED snapshot views — `DROP TABLE` on
  * anything else keeps Spark's own meaning. */
case class SnapshotDropTableCommand(view: String, purge: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    Catalog.unregister(spark, view)
    if (purge) {
      val bp = new org.apache.hadoop.fs.Path(path)
      bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(bp, true)
    }
    Seq(Row(if (purge) "DROP TABLE PURGE" else "DROP TABLE", 0L))
  }
}

/** `ALTER TABLE view RENAME COLUMN a TO b` — metadata-only column
  * rename via the manifest's column mapping
  * ([[graft.sources.SnapshotLog.renameColumn]]): zero data files
  * touched, stats/bloom/DV pruning survives (all physically keyed),
  * time travel still answers old versions with their old names. */
case class SnapshotRenameColumnCommand(view: String, from: String, to: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("columns", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, partCol) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.renameColumn(spark, path, from, to, Some(partCol))
    SnapshotDml.repin(spark, view)
    Seq(Row("RENAME COLUMN", v, s"$from -> $to"))
  }
}

/** `ALTER TABLE view ALTER COLUMN c TYPE t` — metadata-only TYPE
  * WIDENING ([[graft.sources.SnapshotLog.widenColumnType]]): the
  * schema header re-declares the column wider, old files upcast on
  * read (Spark 4 parquet promotion), zero rewrites; non-widening
  * changes refuse with a pointer at CREATE OR REPLACE. */
case class SnapshotAlterColumnTypeCommand(
    view: String, colName: String,
    newType: org.apache.spark.sql.types.DataType)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("columns", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, partCol) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.widenColumnType(
      spark, path, colName, newType, Some(partCol))
    SnapshotDml.repin(spark, view)
    Seq(Row("ALTER COLUMN TYPE", v, s"$colName ${newType.sql}"))
  }
}

/** `ALTER TABLE view DROP COLUMN c` / `DROP COLUMNS (a, b, …)` —
  * metadata-only drop: the logical schema loses each field, its
  * physical slot is tombstoned so a later re-ADD of the name can never
  * resurrect the old bytes, and the next rewrite materializes the
  * removal ([[graft.sources.SnapshotLog.dropColumn]]). A multi-column
  * list drops left-to-right as one commit per column (each atomic;
  * any refusal — partition column, constraint- or generated-column
  * entanglement — stops the chain there). */
case class SnapshotDropColumnCommand(view: String, names: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("columns", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(names.nonEmpty, "DROP COLUMNS needs at least one column")
    val (path, partCol) = SnapshotMaintenance.target(view)
    val v = names.map(n =>
      SnapshotLog.dropColumn(spark, path, n, Some(partCol))).last
    SnapshotDml.repin(spark, view)
    Seq(Row("DROP COLUMN", v, names.mkString(", ")))
  }
}

/** `ALTER TABLE view SYNC IDENTITY` — recompute identity high-water
  * marks from the live data ([[SnapshotLog.syncIdentity]]): the
  * repair for BY DEFAULT explicit inserts and converted/cloned values
  * the mark never saw. */
case class SnapshotSyncIdentityCommand(view: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.syncIdentity(spark, path)
    SnapshotDml.repin(spark, view)
    Seq(Row("SYNC IDENTITY", v))
  }
}

/** `FSCK REPAIR TABLE view [DRY RUN]` — drop manifest entries whose
  * files are gone from storage ([[SnapshotLog.fsckRepair]]); DRY RUN
  * reports the holes without committing. */
case class SnapshotFsckCommand(view: String, dryRun: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("n_missing", LongType, nullable = false)(),
    AttributeReference("files", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val gone = SnapshotLog.fsckRepair(spark, path, dryRun = dryRun)
    if (!dryRun) SnapshotDml.repin(spark, view)
    Seq(Row(if (dryRun) "FSCK DRY RUN" else "FSCK REPAIR",
      gone.size.toLong, gone.mkString(", ")))
  }
}

/** `CONVERT TO GRAFT_SNAPSHOT '<dir>' PARTITIONED BY (p) AS db.name` —
  * in-place adoption of an existing parquet directory as version 1 of
  * a commit log, registered for the full name-based SQL/DML surface
  * in the same statement ([[graft.sources.SnapshotLog.convertInPlace]];
  * the layout contract — column-carrying, per-file single-valued
  * partition column — is documented and enforced there). Stats for
  * the partition column come from the conversion scan itself; run
  * `ANALYZE … COMPUTE STATISTICS` afterwards for more columns. */
case class SnapshotConvertCommand(
    path: String, partCol: String, db: String, name: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("table", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = SnapshotLog.convertInPlace(spark, path, partCol)
    val view = Catalog.registerSnapshotLog(spark, db, name, path, Some(partCol))
    Seq(Row("CONVERT", v, view))
  }
}

/** `ALTER TABLE view SET TBLPROPERTIES ('k' = 'v', …)` — versioned
  * table metadata, metadata-only commit ([[SnapshotLog.setProperties]]).
  * `graft.enableChangeDataFeed = true` is load-bearing: every
  * subsequent write on the table publishes a change feed without a
  * per-call opt-in (Delta's delta.enableChangeDataFeed). */
case class SnapshotSetPropertiesCommand(
    view: String, kvs: Map[String, String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(kvs.nonEmpty, "SET TBLPROPERTIES needs at least one 'k'='v' pair")
    val (path, _) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.setProperties(spark, path, kvs)
    SnapshotDml.repin(spark, view)
    Seq(Row("SET TBLPROPERTIES", v))
  }
}

/** `ALTER TABLE view UNSET TBLPROPERTIES ('k', …)` — metadata-only. */
case class SnapshotUnsetPropertiesCommand(view: String, keys: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one 'k'")
    val (path, _) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.unsetProperties(spark, path, keys)
    SnapshotDml.repin(spark, view)
    Seq(Row("UNSET TBLPROPERTIES", v))
  }
}

/** `SHOW TBLPROPERTIES view` — one row per property, sorted by key. */
case class SnapshotShowPropertiesCommand(view: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val bp = new org.apache.hadoop.fs.Path(path)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLog.readManifest(fs, bp).toSeq
      .flatMap(_.props.toSeq.sortBy(_._1))
      .map { case (k, v) => Row(k, v) }
  }
}

/** `COPY INTO view FROM 'path' FILEFORMAT = PARQUET|JSON|CSV
  * [PATTERN = 'glob']` — idempotent FILE-LEVEL ingestion (the Delta
  * COPY INTO statement, and the SQL surface for the reference's bulk
  * COPY load, sql/ddl_staging.sql:40-43): every source file is loaded
  * AT MOST ONCE, tracked as a `copy:<path>` transaction watermark in
  * the manifest ([[SnapshotLog.Manifest.txns]]). Re-running the
  * statement after a crash, on a timer, or from two racing loaders
  * never duplicates rows:
  *   - already-loaded files are diffed out against the live manifest
  *     before any read (a file rewritten IN PLACE stays skipped — the
  *     Delta contract; re-ingest under a new name);
  *   - a concurrent ingest that absorbed PART of this batch surfaces
  *     as [[SnapshotLog.PartialTxnConflict]] and the loop re-diffs
  *     and restages only the remainder.
  * The ingest itself is one distributed read + [[SnapshotLog
  * .appendBatch]]; only the LISTING is driver-side (same as any COPY
  * implementation). Reported row count comes from the committed files'
  * parquet footers — no second scan of the source. */
case class SnapshotCopyIntoCommand(
    view: String, src: String, format: String, pattern: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("n_files_loaded", LongType, nullable = false)(),
    AttributeReference("n_rows_loaded", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, partCol) = SnapshotMaintenance.target(view)
    val bp = new org.apache.hadoop.fs.Path(path)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcP = new org.apache.hadoop.fs.Path(src)
    val sfs = srcP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Seq[String] = {
      val glob = new org.apache.hadoop.fs.Path(srcP,
        pattern.getOrElse("*"))
      Option(sfs.globStatus(glob)).toSeq.flatten
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getPath.toUri.getPath).sorted
    }
    def key(f: String) = s"copy:$f"
    var attempt = 0
    while (true) {
      val m = SnapshotLog.readManifest(fs, bp).getOrElse(
        sys.error(s"$view has no committed version"))
      val fresh = listing().filterNot(f => m.txns.contains(key(f)))
      if (fresh.isEmpty)
        return Seq(Row("COPY INTO", m.version, 0L, 0L))
      val reader = format match {
        case "parquet" => spark.read
        case "json" => spark.read.format("json")
        case "csv" =>
          spark.read.format("csv")
            .option("header", "true").option("inferSchema", "true")
        case other => sys.error(s"COPY INTO: unsupported FILEFORMAT $other")
      }
      val df = reader.load(fresh: _*)
      try {
        val v = SnapshotLog.appendBatch(spark, path, df, partCol,
          batchId = m.version + 1, overwrite = false, maxRetries = 5,
          txnsAdd = fresh.map(f => key(f) -> 0L).toMap)
        if (v <= m.version) // racer absorbed the whole batch
          return Seq(Row("COPY INTO", v, 0L, 0L))
        SnapshotDml.repin(spark, view)
        // rows loaded: the row counts the commit recorded for exactly
        // its new files — no Spark job
        val nRows = SnapshotLog.readManifestAt(fs, bp, v).map { mv =>
          (mv.allFiles.toSet -- m.allFiles.toSet).toSeq
            .map(SnapshotLog.rowCountOf(fs, bp, mv, _)).sum
        }.getOrElse(0L)
        return Seq(Row("COPY INTO", v, fresh.size.toLong, nRows))
      } catch {
        case _: SnapshotLog.PartialTxnConflict if attempt < 5 =>
          attempt += 1 // a racer took part of the batch: re-diff
      }
    }
    Nil // unreachable
  }
}

/** `DESCRIBE DETAIL view` — one metadata row for the live snapshot
  * (the Delta statement): version, partition/file/byte/row counts,
  * DV-deleted rows, constraint and stream-watermark counts. All from
  * the manifest — zero data IO. */
case class SnapshotDetailCommand(view: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("n_partitions", LongType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)(),
    AttributeReference("n_deleted_rows", LongType, nullable = false)(),
    AttributeReference("partition_col", StringType, nullable = false)(),
    AttributeReference("n_constraints", LongType, nullable = false)(),
    AttributeReference("n_txns", LongType, nullable = false)(),
    // protocol table features the snapshot requires (comma-joined,
    // sorted) — Delta's DESCRIBE DETAIL tableFeatures analog
    AttributeReference("reader_features", StringType, nullable = false)(),
    AttributeReference("writer_features", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, partCol) = SnapshotMaintenance.target(view)
    val bp = new org.apache.hadoop.fs.Path(path)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLog.readManifest(fs, bp).getOrElse(
      sys.error(s"$view has no committed version"))
    val bytes = m.allFiles.map(SnapshotLog.fileBytes(m, _)).sum
    Seq(Row("graft-snapshot", path, m.version,
      m.files.size.toLong, m.allFiles.size.toLong, bytes,
      SnapshotLog.countRows(m).getOrElse(-1L),
      m.dvs.values.map(_.count).sum,
      partCol, m.constraints.size.toLong, m.txns.size.toLong,
      m.readerFeatures.toSeq.sorted.mkString(","),
      m.writerFeatures.toSeq.sorted.mkString(",")))
  }
}

/** `VACUUM view [RETAIN n HOURS]` — reclaim unreferenced data files,
  * superseded DV sidecar subdirs, and orphaned manifest shards older
  * than the retention window ([[SnapshotLog.vacuum]]). */
case class SnapshotVacuumCommand(
    view: String, retentionMsOpt: Option[Long], dryRun: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("n_removed_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    // retention precedence: explicit RETAIN n HOURS > the table's
    // graft.vacuum.retentionHours property (Delta's
    // deletedFileRetentionDuration) > the 24h convention
    val retentionMs = retentionMsOpt.getOrElse {
      val bp = new org.apache.hadoop.fs.Path(path)
      val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      SnapshotLog.readManifest(fs, bp)
        .flatMap(_.props.get(SnapshotLog.VacuumRetentionProp))
        .flatMap(_.trim.toLongOption).filter(_ >= 0)
        .map(_ * 3600L * 1000L)
        .getOrElse(24L * 3600L * 1000L)
    }
    val removed = SnapshotLog.vacuum(spark, path, retentionMs,
      dryRun = dryRun)
    Seq(Row(if (dryRun) "VACUUM DRY RUN" else "VACUUM", removed))
  }
}

/** `RESTORE [TABLE] view TO VERSION AS OF v` — append-only rollback:
  * the old snapshot's manifest content commits as a NEW version
  * ([[SnapshotLog.restoreTable]]), metadata-only, data files shared. */
case class SnapshotRestoreCommand(view: String, toVersion: Long)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("restored_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val v = SnapshotLog.restoreTable(spark, path, toVersion)
    SnapshotDml.repin(spark, view)
    Seq(Row("RESTORE", v, toVersion))
  }
}

/** `RESTORE [TABLE] view TO TIMESTAMP AS OF 'ts'` — the timestamp
  * form: resolve the newest version committed at or before the
  * wall-clock instant (`yyyy-MM-dd[ HH:mm:ss]`, UTC — the same
  * convention as `FROM view TIMESTAMP AS OF`), then restore to it. */
case class SnapshotRestoreTsCommand(view: String, ts: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("restored_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, _) = SnapshotMaintenance.target(view)
    val str = ts.trim
    val millis =
      try {
        val local =
          if (str.length <= 10) java.time.LocalDate.parse(str).atStartOfDay()
          else java.time.LocalDateTime.parse(str.replace(' ', 'T'))
        local.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      } catch {
        case _: java.time.format.DateTimeParseException =>
          sys.error(s"RESTORE TIMESTAMP AS OF: unparseable timestamp '$ts' " +
            "(expected yyyy-MM-dd[ HH:mm:ss], UTC)")
      }
    val toVersion = SnapshotLog.versionAsOfTime(spark, path, millis)
      .getOrElse(sys.error(
        s"$view has no version committed at or before '$ts'"))
    val v = SnapshotLog.restoreTable(spark, path, toVersion)
    SnapshotDml.repin(spark, view)
    Seq(Row("RESTORE", v, toVersion))
  }
}
