package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{
  Identifier, NamespaceChange, SupportsNamespaces, Table, TableCapability,
  TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A REAL multi-part namespace over commit-log tables: the DSv2
  * `TableCatalog` that makes `SELECT … FROM graft.db.t` (and
  * `VERSION AS OF` / `TIMESTAMP AS OF` time travel) resolve without any
  * per-session `registerSnapshotLog` call. Directory-backed, the
  * Iceberg-Hadoop-catalog shape: `spark.sql.catalog.graft =
  * graft.sources.GraftCatalog` + `spark.sql.catalog.graft.root = <dir>`
  * maps `graft.ns….t` to `<root>/ns…/t`, and a table is any directory
  * there with a committed manifest.
  *
  * **The DV-safety finding this design answers** (the round-10 deferral,
  * investigated): a NATIVE DSv2 read path cannot carry this format's
  * deletion vectors. The DV mask is an ANTI-JOIN above the scan keyed on
  * `_metadata.row_index` — a plan TRANSFORMATION, not a per-file filter
  * — so it cannot live inside a `Scan`; and the `V1Scan` escape hatch
  * returns a `BaseRelation with TableScan` that Spark plans as a
  * `RowDataSourceScanExec` over an opaque RDD: no `_metadata.row_index`,
  * no [[SnapshotFileIndex]] manifest pruning, no bucketed output
  * partitioning, no whole-stage codegen'd columnar parquet scan. Spark's
  * own file sources aren't V1Scan'd for the same reason — and Delta
  * solves it exactly one way: an analyzer rule substitutes the v2
  * relation with the planner-integrated v1 relation
  * (`DeltaAnalysis`'s `DataSourceV2Relation` → `LogicalRelation`
  * rewrite). [[graft.plans.GraftCatalogRelationRule]] is that rule here:
  * it swaps each catalog relation for a FRESH [[SnapshotRelation]] plan
  * (DV anti-join + manifest-pruned `FileSourceScanExec` + column-mapping
  * rename), exprId-fresh per occurrence so self-joins stay sound.
  *
  * Failing closed: [[GraftSnapshotTable]] declares `SupportsRead` +
  * `BATCH_READ` ONLY so Spark routes the relation down the v2 path at
  * all (capability-less tables fall back to the v1 loader and error
  * before the substitution rule can run) — but its `newScanBuilder`
  * THROWS. Without the extension rule installed a SELECT therefore
  * fails at scan planning instead of silently reading a DV-less
  * byte-path — resurrection of deleted rows is the one outcome this
  * catalog must never produce.
  *
  * Writes go through the SAME commit protocol as the Scala API:
  * `CREATE TABLE` / CTAS / `INSERT INTO` / `INSERT OVERWRITE` resolve
  * to [[GraftSnapshotTable]]'s V1 write fallback, which funnels into
  * [[SnapshotLog]]'s transactional writers (see [[WriteIntoGraft]]) —
  * one choke point ([[SnapshotLog.tryCommit]]) for row-id allocation,
  * constraints, CDF, and schema headers, never a second weaker write
  * path. `ALTER TABLE`/`RENAME` still route through
  * [[SnapshotLog.setProperties]] and friends.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null, s"catalog '$name' needs spark.sql.catalog.$name.root")
    root = new Path(r)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirOf(ident: Identifier): Path =
    new Path((ident.namespace() :+ ident.name()).foldLeft(root)(new Path(_, _)).toString)

  private def isTable(p: Path): Boolean =
    SnapshotLog.readManifest(fs, p).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.foldLeft(root)(new Path(_, _))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(_.isDirectory).map(_.getPath)
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getName))
      .sortBy(_.name())
  }

  override def loadTable(ident: Identifier): Table =
    load(ident, None)

  /** `VERSION AS OF <v>` resolution. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLongOption.getOrElse(
      throw new NoSuchTableException(ident))))

  /** `TIMESTAMP AS OF <ts>` resolution (`ts` arrives in MICROseconds). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val base = dirOf(ident).toString
    val v = SnapshotLog.versionAsOfTime(spark, base, timestamp / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    load(ident, Some(v))
  }

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val base = dirOf(ident)
    val m = version match {
      case Some(v) => SnapshotLog.readManifestAt(fs, base, v)
      case None => SnapshotLog.readManifest(fs, base)
    }
    m.map(new GraftSnapshotTable(base.toString, version, _, ident))
      .getOrElse(throw new NoSuchTableException(ident))
  }

  override def tableExists(ident: Identifier): Boolean = isTable(dirOf(ident))

  /** Spark table properties the engine must not persist as graft table
    * properties: they describe the catalog entry, not the table. */
  private val reservedProps =
    Set("provider", "location", "owner", "external", "is_managed_location")

  /** `CREATE TABLE graft.ns.t (…) USING graft [PARTITIONED BY (c)]`
    * and the create half of CTAS: commits an EMPTY version-1 manifest
    * carrying the declared schema, partition column
    * ([[SnapshotLog.PartColProp]]) and properties — through
    * [[SnapshotLog.tryCommit]] like every write, so a racing creator
    * loses cleanly. The data half of CTAS then arrives as a normal
    * AppendData against the returned table (V1 write fallback, see
    * [[WriteIntoGraft]]). */
  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    val partColT = WriteIntoGraft.partColOf(partitions)
    partColT.toSeq.flatMap(SnapshotLog.partColsOf).foreach(c => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"partition column '$c' is not in the table schema"))
    val props = properties.asScala.toMap
      .filterNot { case (k, _) => reservedProps(k.toLowerCase) } +
      // always stamped: "" (NoPartCol) = explicitly unpartitioned, so
      // the first INSERT needs no layout hint either way
      (SnapshotLog.PartColProp ->
        partColT.getOrElse(SnapshotLog.NoPartCol))
    if (!SnapshotLog.createTable(spark, dir.toString, schema, props))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toSeq)
    loadTable(ident)
  }

  /** `ALTER TABLE graft.ns.t …` — routed to the SAME metadata commits
    * the Scala API makes (one tryCommit each, versioned, RESTORE-able):
    * SET/UNSET TBLPROPERTIES, ADD COLUMNS (nullable, appended), RENAME
    * COLUMN (column mapping — zero files rewritten), DROP COLUMN
    * (tombstone). Properties batch into one commit per statement;
    * column changes commit one version each, like Delta. */
  // ---- ATOMIC CTAS / RTAS (StagingTableCatalog, Delta's shape) -------
  // Spark plans CREATE TABLE AS / REPLACE TABLE AS / CREATE OR REPLACE
  // through stage* when the catalog is a StagingTableCatalog: the old
  // table stays fully readable until the staged write's ONE tryCommit
  // lands (no drop-then-recreate window), a failed query aborts with
  // the table untouched (staged files are vacuum-reclaimable orphans),
  // and REPLACE preserves table HISTORY — it commits a new version
  // (time travel reaches back across it) instead of erasing the
  // directory.

  private def stage(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String],
      mustNotExist: Boolean, mustExist: Boolean): GraftStagedTable = {
    val dir = dirOf(ident)
    val exists = isTable(dir)
    if (mustNotExist && exists)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
    if (mustExist && !exists) throw new NoSuchTableException(ident)
    val partColT = WriteIntoGraft.partColOf(partitions)
    partColT.toSeq.flatMap(SnapshotLog.partColsOf).foreach(c => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"partition column '$c' is not in the table schema"))
    val props = properties.asScala.toMap
      .filterNot { case (k, _) => reservedProps(k.toLowerCase) } +
      (SnapshotLog.PartColProp ->
        partColT.getOrElse(SnapshotLog.NoPartCol))
    new GraftStagedTable(spark, dir.toString, schema, partitions, props,
      replaceExisting = exists)
  }

  override def stageCreate(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties,
      mustNotExist = true, mustExist = false)

  override def stageReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties,
      mustNotExist = false, mustExist = true)

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties,
      mustNotExist = false, mustExist = false)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val base = dirOf(ident).toString
    if (!tableExists(ident))
      throw new NoSuchTableException(ident)
    // the manifest's partition column feeds RENAME/DROP COLUMN so their
    // partition-column guard holds on this path too (renaming or
    // dropping the layout column would orphan PartColProp and break
    // every later write and prune)
    val layoutCol = SnapshotLog.readManifest(fs, dirOf(ident))
      .flatMap(_.props.get(SnapshotLog.PartColProp)).filter(_.nonEmpty)
    val setProps = changes.collect {
      case sp: TableChange.SetProperty => sp.property -> sp.value
    }.toMap
    if (setProps.nonEmpty) SnapshotLog.setProperties(spark, base, setProps)
    val unsetProps = changes.collect {
      case rp: TableChange.RemoveProperty => rp.property
    }
    if (unsetProps.nonEmpty) SnapshotLog.unsetProperties(spark, base, unsetProps)
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"cannot $what nested field ${fieldNames.mkString(".")} — " +
          "retype is widening-only and defined for top-level columns")
      fieldNames.head
    }
    changes.foreach {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => ()
      case ac: TableChange.AddColumn if ac.fieldNames().length > 1 =>
        // nested add-column evolution: metadata-only, older files read
        // the new subfield as NULL
        SnapshotLog.addNestedColumn(spark, base, ac.fieldNames().toSeq,
          org.apache.spark.sql.types.StructField(
            ac.fieldNames().last, ac.dataType, nullable = true))
      case ac: TableChange.AddColumn =>
        SnapshotLog.addColumns(spark, base, StructType(Seq(
          org.apache.spark.sql.types.StructField(
            ac.fieldNames().head, ac.dataType, nullable = true))))
      case rc: TableChange.RenameColumn if rc.fieldNames().length > 1 =>
        // nested column mapping: metadata-only rename of a subfield
        SnapshotLog.renameNestedColumn(spark, base,
          rc.fieldNames().toSeq, rc.newName())
      case rc: TableChange.RenameColumn =>
        SnapshotLog.renameColumn(spark, base,
          rc.fieldNames().head, rc.newName(), layoutCol)
      case dc: TableChange.DeleteColumn if dc.fieldNames().length > 1 =>
        // nested column mapping: metadata-only tombstone of a subfield
        SnapshotLog.dropNestedColumn(spark, base, dc.fieldNames().toSeq)
      case dc: TableChange.DeleteColumn =>
        SnapshotLog.dropColumn(spark, base,
          dc.fieldNames().head, layoutCol)
      case uc: TableChange.UpdateColumnType =>
        // SQL-standard `ALTER TABLE t ALTER COLUMN c TYPE bigint` —
        // the same lossless-widening machinery as the custom verb
        // (int→long, float→double, decimal precision growth); anything
        // else refuses inside widenColumnType
        SnapshotLog.widenColumnType(spark, base,
          topLevel(uc.fieldNames(), "retype"), uc.newDataType(), layoutCol)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change not supported on graft tables: $other")
    }
    loadTable(ident)
  }

  /** DROP TABLE: managed-directory semantics (the catalog owns
    * `<root>/ns/t`) — deletes the table directory, history included.
    * Also the cleanup hook Spark calls when the data half of a
    * non-atomic CTAS fails. */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    isTable(dir) && fs.delete(dir, true)
  }

  /** `ALTER TABLE graft.ns.a RENAME TO graft.ns2.b` — a directory move
    * with history intact: the commit log, every versioned manifest,
    * CDF dirs, and data files travel together, so time travel works
    * unchanged under the new name and the old name stops resolving.
    * On HDFS/local this is one metadata rename; on object stores the
    * FileSystem layer makes it O(files) copies — the honest cost of a
    * path-addressed format (Delta pays the same for path tables; its
    * cheap rename is a metastore-pointer update this directory catalog
    * deliberately doesn't have). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    val to = dirOf(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (newIdent.namespace() :+ newIdent.name()).toSeq)
    if (!fs.exists(to.getParent) || !fs.getFileStatus(to.getParent).isDirectory)
      throw new NoSuchNamespaceException(newIdent.namespace())
    if (!fs.rename(from, to)) sys.error(
      s"rename $from -> $to failed at the filesystem layer")
  }

  // --- namespaces: the first-level (and nested) directories of root ---

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable)
      .map(p => Array(p.getName)).sortBy(_.head)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val ns = namespace.foldLeft(root)(new Path(_, _))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable)
      .map(p => namespace :+ p.getName).sortBy(_.last)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val ns = namespace.foldLeft(root)(new Path(_, _))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> ns.toString).asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    fs.mkdirs(namespace.foldLeft(root)(new Path(_, _)))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces are directories")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "delete the directory; the catalog never destroys data")
}

/** One commit-log table (optionally pinned at a version) as a DSv2
  * `Table`. Schema and properties come from the manifest — zero data-file
  * reads at resolution. `SupportsRead` + `BATCH_READ` are declared only
  * to get Spark to route reads down the v2 path; the actual read is
  * [[graft.plans.GraftCatalogRelationRule]]'s substitution to the
  * DV-correct v1 plan (see [[GraftCatalog]]'s finding), and
  * `newScanBuilder` throws, so without that rule a SELECT fails closed
  * instead of bypassing deletion vectors. */
final class GraftSnapshotTable(
    val base: String,
    val versionAsOf: Option[Long],
    manifest: SnapshotLog.Manifest,
    ident: Identifier) extends Table
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** `TRUNCATE TABLE graft.ns.t` — delete-everything as ONE versioned
    * commit: routed through [[SnapshotLog.deleteWhere]] with a TRUE
    * predicate, which takes the partition-metadata fast path (every
    * partition drops from the manifest, zero data files read or
    * rewritten — unless the table publishes CDF, in which case the
    * dropped rows feed as typed deletes, the same contract every other
    * delete keeps). Schema, properties, constraints, and history all
    * survive; RESTORE undoes it. */
  override def truncateTable(): Boolean = {
    require(versionAsOf.isEmpty,
      s"$base: cannot truncate a time-traveled snapshot")
    val spark = SparkSession.active
    // "" (unpartitioned) is a valid layout here — deleteWhere's TRUE
    // predicate drops the single hidden partition metadata-only
    val pc = partCol.getOrElse(sys.error(
      s"TRUNCATE on $base needs the ${SnapshotLog.PartColProp} table " +
        "property (every write surface stamps it; ALTER TABLE … SET " +
        "TBLPROPERTIES adds it to legacy tables — '' for unpartitioned)"))
    SnapshotLog.deleteWhere(spark, base,
      org.apache.spark.sql.functions.lit(true), pc).isDefined
  }

  /** Partition column, when the table carries it as a property
    * ([[SnapshotLog.PartColProp]]) — enables partition-predicate file
    * pruning in the substituted plan; absent just means stats/bloom
    * pruning only. */
  def partCol: Option[String] = manifest.props.get(SnapshotLog.PartColProp)

  override def name(): String =
    (ident.namespace() :+ ident.name()).mkString(".") +
      versionAsOf.map(v => s" VERSION AS OF $v").getOrElse("")

  override def schema(): StructType =
    manifest.schema.get

  /** Reported so `df.write.partitionBy(c)` against an existing table
    * validates against the real layout (and DESCRIBE shows it) — one
    * identity transform per declared column, declaration order.
    * Unpartitioned tables ([[SnapshotLog.NoPartCol]]) report none. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partCol.map(SnapshotLog.partColsOf).getOrElse(Nil)
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
      .toArray

  // BATCH_READ is declared so Spark routes format("graft")/catalog
  // reads down the v2 path AT ALL (capability-less tables fall back to
  // the v1 loader and error out before the substitution rule can run);
  // the ScanBuilder below still fails closed if the rule is absent.
  // The write capabilities are REAL (V1 fallback into SnapshotLog's
  // transactional writers — see [[WriteIntoGraft]]); ACCEPT_ANY_SCHEMA
  // is declared only when the table opted into write-side schema
  // evolution, so by-name/by-position enforcement stays Spark's job on
  // every other table (Delta's autoMerge split).
  override def capabilities(): util.Set[TableCapability] = {
    // V1_BATCH_WRITE *without* BATCH_WRITE, exactly Delta's split:
    // catalog writes (INSERT INTO / CTAS) pass TableCapabilityCheck via
    // supportsAny(BATCH_WRITE, V1_BATCH_WRITE) and plan the V1
    // fallback, while path-based DataFrameWriter saves — whose v2
    // branch gates on a literal BATCH_WRITE membership test and throws
    // on ErrorIfExists/Ignore modes — fall back wholesale to the
    // CreatableRelationProvider route ([[GraftDataSource.createRelation]]),
    // which supports all four SaveModes.
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE)
    if (manifest.autoMerge) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(versionAsOf.isEmpty,
      s"$base: cannot write to a time-traveled snapshot " +
        s"(VERSION AS OF ${versionAsOf.get})")
    new GraftWriteBuilder(base, partCol, info)
  }

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    throw new UnsupportedOperationException(
      s"$base: graft tables read through the planner-integrated v1 " +
        "relation — install graft.GraftExtensions " +
        "(spark.sql.extensions=graft.GraftExtensions) so " +
        "GraftCatalogRelationRule substitutes it. A native DSv2 scan " +
        "would bypass deletion vectors (see GraftCatalog's scaladoc), " +
        "so this path fails closed instead.")

  override def properties(): util.Map[String, String] = manifest.props.asJava

  /** The planner-integrated, DV-correct read — fresh exprIds per call so
    * one query may reference the table several times (self-join). */
  def dvCorrectPlan(spark: SparkSession): DataFrame = {
    // pruning wants a REAL column; "" (unpartitioned) means none
    val pruneCol = partCol.filter(_.nonEmpty)
    SnapshotRelation.read(spark, base, versionAsOf, pruneCol)
      .orElse(versionAsOf match {
        // empty snapshot (all partitions deleted): schema-header frame
        case Some(v) => SnapshotLog.readVersion(spark, base, v, pruneCol)
        case None => SnapshotLog.read(spark, base, pruneCol)
      })
      .getOrElse(throw new IllegalStateException(
        s"$base: manifest disappeared between resolution and planning"))
  }
}
