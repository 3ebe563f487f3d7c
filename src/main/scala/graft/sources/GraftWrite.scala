package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType

/** The WRITE half of the DSv2 surface (Delta's `WriteIntoDeltaBuilder`
  * shape): `df.write.format("graft").mode(…).save(path)`,
  * `option("replaceWhere", …)`, `INSERT INTO graft.ns.t`,
  * `INSERT OVERWRITE`, and the data-writing half of
  * `CREATE TABLE graft.ns.t AS SELECT`.
  *
  * Deliberately a `V1Write` fallback, the same choice Delta makes for
  * the same reason: the format's whole commit protocol — optimistic
  * [[SnapshotLog.tryCommit]], row-id base allocation, CHECK
  * constraints, generated/identity columns, CDF publication, schema
  * evolution — lives in [[SnapshotLog]]'s transactional writers, which
  * take a `DataFrame`. A native `BatchWrite` would re-implement the
  * staging/commit dance per-partition-writer for zero added
  * parallelism (the underlying `stagePartitioned` write is already a
  * fully distributed Spark job); `toInsertableRelation` hands the
  * planned query straight to the same choke point the Scala API uses,
  * so a table written through `format("graft")` is indistinguishable
  * from one written through the API (q122 grades exactly that).
  */
object WriteIntoGraft {

  /** `option("partitionOverwriteMode", "dynamic")` — or the session
    * conf `spark.sql.sources.partitionOverwriteMode` — with mode
    * overwrite: replace ONLY the partitions the batch writes (Spark's
    * INSERT OVERWRITE dynamic mode); untouched partitions keep their
    * exact file lists. */
  val PartitionOverwriteModeOption = "partitionOverwriteMode"

  /** Resolve the overwrite mode: per-write option first, session conf
    * second, static default — Spark's own precedence. Unknown option
    * spellings refuse. An EXPLICIT `replaceWhere` takes precedence
    * over session-level dynamic (upstream's precedence: the predicate
    * already scopes the replace), so only the per-write
    * option=dynamic + replaceWhere combination reaches run()'s
    * contradiction error — a session-wide
    * `spark.sql.sources.partitionOverwriteMode=dynamic` must not
    * hard-fail every previously-working replaceWhere write. */
  def dynamicOverwrite(
      spark: SparkSession, opt: Option[String],
      hasReplaceWhere: Boolean = false): Boolean =
    opt.map(_.trim.toLowerCase) match {
      case Some("dynamic") => true
      case Some("static") => false
      case Some(other) => sys.error(
        s"$PartitionOverwriteModeOption must be static or dynamic, " +
          s"got '$other'")
      case None =>
        !hasReplaceWhere && spark.conf
          .get("spark.sql.sources.partitionOverwriteMode", "static")
          .equalsIgnoreCase("dynamic")
    }

  /** `option("replaceWhere", "<sql predicate>")` with mode overwrite —
    * Delta's idempotent-backfill option, routed to
    * [[SnapshotLog.replaceWhere]]. */
  val ReplaceWhereOption = "replaceWhere"

  /** `option("partitionCol", c)` — the write-side partition column for
    * tables that don't yet carry [[SnapshotLog.PartColProp]];
    * `partitionBy(c)` on a fresh path is the idiomatic spelling. */
  val PartitionColOption = "partitionCol"

  /** `option("txnAppId", id)` + `option("txnVersion", n)` — Delta's
    * idempotent-writer options: the append commits a transaction
    * watermark, and a replay of the same (appId, version) — a retried
    * batch job, a crashed-and-rerun pipeline stage — is detected
    * INSIDE the optimistic commit loop and becomes a no-op instead of
    * a duplicate batch. Both or neither must be set. */
  val TxnAppIdOption = "txnAppId"
  val TxnVersionOption = "txnVersion"

  /** The `mergeSchema` write option set to true — Delta's per-write
    * auto-merge spelling: a batch carrying columns the table lacks
    * widens the schema (new columns nullable, existing rows read NULL)
    * instead of failing. Without it — and without the table-level
    * [[SnapshotLog.AutoMergeProp]] — an append/replaceWhere batch with
    * unknown columns is REJECTED loudly (Delta's schema-enforcement
    * contract); a full overwrite replaces the schema wholesale and
    * needs no opt-in. */
  val MergeSchemaOption = "mergeSchema"

  /** Identity partitioning — one or SEVERAL columns
    * (`PARTITIONED BY (y, m)`, Delta/Hive's compound layout) — is the
    * format's partition model; reject any non-identity transform
    * loudly at the boundary. Returns the comma-joined column list in
    * declaration order (the [[SnapshotLog.partColsOf]] spelling that
    * threads through every write/read/DML signature). */
  def partColOf(transforms: Array[Transform]): Option[String] = {
    if (transforms.isEmpty) return None
    val cols = transforms.toSeq.map {
      // IdentityTransform is private[sql]; its public shape is
      // name() == "identity" over one single-part field reference
      case id if id.name == "identity" &&
          id.references.length == 1 &&
          id.references.head.fieldNames.length == 1 =>
        id.references.head.fieldNames.head
      case other => throw new UnsupportedOperationException(
        s"graft tables partition by identity column(s) only (got: $other)")
    }
    require(cols.map(_.toLowerCase).distinct.size == cols.size,
      s"duplicate partition column in (${cols.mkString(", ")})")
    Some(cols.mkString(","))
  }

  /** v1 `Filter` → `Column`, for `INSERT OVERWRITE … PARTITION`'s
    * static predicates (the planner hands them to
    * `SupportsOverwrite.overwrite`). The supported subset mirrors what
    * overwrite-by-expression can produce; anything else fails the
    * write rather than over- or under-replacing. */
  def filterToColumn(f: Filter): Column = f match {
    case sources.AlwaysTrue() => lit(true)
    case sources.AlwaysFalse() => lit(false)
    case sources.EqualTo(a, v) => col(a) === lit(v)
    case sources.EqualNullSafe(a, v) => col(a) <=> lit(v)
    case sources.GreaterThan(a, v) => col(a) > lit(v)
    case sources.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case sources.LessThan(a, v) => col(a) < lit(v)
    case sources.LessThanOrEqual(a, v) => col(a) <= lit(v)
    case sources.In(a, vs) => col(a).isin(vs.toSeq: _*)
    case sources.IsNull(a) => col(a).isNull
    case sources.IsNotNull(a) => col(a).isNotNull
    case sources.StringStartsWith(a, v) => col(a).startsWith(v)
    case sources.StringEndsWith(a, v) => col(a).endsWith(v)
    case sources.StringContains(a, v) => col(a).contains(v)
    case sources.And(l, r) => filterToColumn(l) && filterToColumn(r)
    case sources.Or(l, r) => filterToColumn(l) || filterToColumn(r)
    case sources.Not(c) => !filterToColumn(c)
    case other => throw new UnsupportedOperationException(
      s"cannot translate overwrite filter $other to a graft predicate")
  }

  /** Run the write. Returns the committed version.
    *
    * @param overwriteAll  full-snapshot overwrite (mode overwrite /
    *                      INSERT OVERWRITE with no static partition)
    * @param replaceWhere  predicate-scoped overwrite — the
    *                      `replaceWhere` option or INSERT OVERWRITE's
    *                      static partition filters
    * @param partColHint   partition column when the manifest doesn't
    *                      name one: `partitionBy(…)` on a fresh path,
    *                      catalog CREATE's transform, or the
    *                      `partitionCol` option */
  def run(
      base: String,
      data: DataFrame,
      overwriteAll: Boolean,
      replaceWhere: Option[Column],
      partColHint: Option[String],
      mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      dynamicPartitionOverwrite: Boolean = false,
      txnWithReplace: Boolean = false): Long = {
    val spark = data.sparkSession
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLog.readManifest(fs, bp)
    // "" = explicitly unpartitioned (SnapshotLog.NoPartCol) — distinct
    // from an absent property (legacy table, layout unknown)
    val declared = m.flatMap(_.props.get(SnapshotLog.PartColProp))
    // a caller hint that CONTRADICTS the table's declared layout fails
    // loudly (Delta's partitioning-mismatch error) — silently writing
    // partitionBy("other") under the old layout would corrupt
    // partition-scoped rewrites
    def sameLayout(a: String, b: String): Boolean =
      SnapshotLog.partColsOf(a).map(_.toLowerCase) ==
        SnapshotLog.partColsOf(b).map(_.toLowerCase)
    (declared, partColHint) match {
      case (Some(d), Some(h)) if !sameLayout(d, h) =>
        throw new IllegalArgumentException(
          if (d.isEmpty)
            s"graft table $base is unpartitioned — cannot write it with " +
              s"partitionBy('$h'); drop the partitioning or recreate the table"
          else
            s"graft table $base is partitioned by '$d' — cannot write it " +
              s"with partitionBy('$h'); use the table's own partitioning " +
              "or none")
      case _ => ()
    }
    val partCol = declared.orElse(partColHint).getOrElse {
      if (m.isEmpty) SnapshotLog.NoPartCol // fresh path, no partitionBy:
                                           // unpartitioned (Delta default)
      else sys.error(
        s"graft write to $base: the table predates partition-column " +
          s"stamping — declare the layout once with partitionBy(col), " +
          s"option(\"$PartitionColOption\", col), or the table property " +
          s"${SnapshotLog.PartColProp} ('' for unpartitioned)")
    }
    SnapshotLog.partColsOf(partCol).foreach(pc => require(
      data.columns.exists(_.equalsIgnoreCase(pc)),
      s"write batch lacks the partition column '$pc' " +
        s"(batch columns: ${data.columns.mkString(", ")})"))
    // Spark's partitionOverwriteMode=dynamic: replace ONLY the
    // partitions the batch writes. Expressed as a replaceWhere over
    // the batch's OWN partition set — the batch is persisted so the
    // set derivation and the staging see one evaluation, and the whole
    // proven replace machinery (violation check, CDF typed deletes,
    // row-id preservation, atomic commit, untouched partitions keep
    // their exact file lists) applies unchanged. An unpartitioned
    // table has no partitions to scope — dynamic degenerates to the
    // normal full overwrite, Spark's own behavior.
    require(!(dynamicPartitionOverwrite && replaceWhere.isDefined),
      s"option(\"$ReplaceWhereOption\") and dynamic partition " +
        "overwrite cannot combine — the predicate already scopes " +
        "the replace (Delta's rule)")
    if (dynamicPartitionOverwrite && overwriteAll && partCol.nonEmpty &&
        m.isDefined) {
      val pcs = SnapshotLog.partColsOf(partCol)
      val cached = data.persist()
      try {
        // the batch's own partition set — one tuple per distinct
        // combination under a multi-column layout
        val parts: Seq[Seq[String]] = cached
          .select(pcs.map(c => col(c).cast("string")): _*)
          .distinct().collect()
          .map(r => pcs.indices.map { i =>
            if (r.isNullAt(i)) sys.error(
              s"batch writes NULL into partition column ${pcs(i)}")
            r.getString(i)
          }).toSeq
        // empty batch: Spark's dynamic overwrite replaces nothing
        if (parts.isEmpty) return m.get.version
        val pred =
          if (pcs.size == 1)
            col(pcs.head).cast("string").isin(parts.map(_.head): _*)
          else parts.map(vs => pcs.zip(vs).map { case (c, v) =>
            col(c).cast("string") === lit(v) }.reduce(_ && _))
            .reduce(_ || _)
        // txn composes (idempotent-writer tokens are the standard
        // guard for exactly this retried-backfill shape): it threads
        // into the derived replaceWhere, whose optimistic loop
        // no-ops a replayed (appId, version)
        return run(base, cached, overwriteAll = false,
          replaceWhere = Some(pred),
          partColHint = partColHint, mergeSchema = mergeSchema,
          txn = txn, txnWithReplace = true)
      } finally { cached.unpersist(); () }
    }
    // schema ENFORCEMENT (Delta's contract): columns the table does not
    // know are rejected unless the write opted into evolution — the
    // per-write mergeSchema option or the table-level autoMergeSchema
    // property. A full overwrite is exempt (it replaces the schema
    // wholesale). With evolution on, the append path widens natively
    // inside appendBatch; replaceWhere aligns to the LIVE schema, so
    // the new columns are committed first (one extra metadata version).
    val extras: Seq[org.apache.spark.sql.types.StructField] =
      if (overwriteAll) Nil
      else m.flatMap(_.schema).toSeq.flatMap { sc =>
        data.schema.fields.toSeq.filterNot(f =>
          sc.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      }
    if (extras.nonEmpty) {
      val mergeOk = mergeSchema || m.exists(_.autoMerge)
      if (!mergeOk) throw new IllegalArgumentException(
        s"graft table $base does not have column(s) " +
          s"${extras.map(_.name).mkString(", ")} — write with " +
          s"option(\"$MergeSchemaOption\", \"true\") (or set the " +
          s"${SnapshotLog.AutoMergeProp} table property) to widen the " +
          "schema, or drop the columns")
      if (replaceWhere.isDefined)
        SnapshotLog.addColumns(spark, base,
          org.apache.spark.sql.types.StructType(
            extras.map(_.copy(nullable = true)).toArray))
    }
    // first write stamps the partition column into the table's
    // properties so later reads prune and later writes need no hint
    val propsAdd =
      if (m.exists(_.props.contains(SnapshotLog.PartColProp))) Map.empty[String, String]
      else Map(SnapshotLog.PartColProp -> partCol)
    require(txn.isEmpty || replaceWhere.isEmpty || txnWithReplace,
      s"option(\"$TxnAppIdOption\") does not compose with replaceWhere — " +
        "replaceWhere is already idempotent by construction (re-running " +
        "replaces the same region again)")
    replaceWhere match {
      case Some(pred) =>
        m match {
          case None =>
            // replaceWhere on a fresh path: nothing to replace — the
            // write is a plain create (Delta's behavior)
            SnapshotLog.appendBatch(spark, base, data, partCol,
              batchId = 0L, overwrite = false, propsAdd = propsAdd)
          case Some(_) =>
            val out = SnapshotLog.replaceWhere(spark, base, data, pred, partCol,
              txn = if (txnWithReplace) txn else None)
              .getOrElse(sys.error(
                s"$base lost its committed version mid-write"))
            if (propsAdd.nonEmpty) SnapshotLog.setProperties(spark, base, propsAdd)
            out.version
        }
      case None =>
        SnapshotLog.appendBatch(spark, base, data, partCol,
          batchId = 0L, overwrite = overwriteAll && m.isDefined,
          propsAdd = propsAdd, txn = txn)
    }
  }

  /** Parse the txn option pair; both-or-neither enforced here so every
    * write surface reports the same error. */
  def txnOf(appId: Option[String], version: Option[String]): Option[(String, Long)] =
    (appId, version) match {
      case (Some(a), Some(v)) => Some((a, v.trim.toLong))
      case (None, None) => None
      case _ => sys.error(
        s"options $TxnAppIdOption and $TxnVersionOption must be set together")
    }
}

/** Per-write builder. Overwrite state arrives from the planner
  * (`V2Writes` calls `truncate()` for `Literal(true)` deletes,
  * `overwrite(filters)` for static-partition predicates); the
  * `replaceWhere` option arrives via `LogicalWriteInfo.options`. */
final class GraftWriteBuilder(
    base: String,
    tablePartCol: Option[String],
    info: LogicalWriteInfo) extends WriteBuilder with SupportsOverwrite {

  private var overwriteAll = false
  private var overwriteFilters: Seq[Filter] = Nil

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall { case sources.AlwaysTrue() => true; case _ => false })
      overwriteAll = true
    else overwriteFilters = filters.toSeq
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: Dataset[Row], overwrite: Boolean): Unit = {
          val replaceOpt =
            Option(info.options.get(WriteIntoGraft.ReplaceWhereOption))
              .map(s => expr(s))
          require(replaceOpt.isEmpty || overwriteAll || overwriteFilters.nonEmpty || overwrite,
            s"option(\"${WriteIntoGraft.ReplaceWhereOption}\", …) requires " +
              "mode overwrite — an append cannot replace")
          require(replaceOpt.isEmpty || overwriteFilters.isEmpty,
            "replaceWhere option and INSERT OVERWRITE partition filters " +
              "cannot combine — use one or the other")
          val filterPred =
            if (overwriteFilters.isEmpty) None
            else Some(overwriteFilters.map(WriteIntoGraft.filterToColumn)
              .reduce(_ && _))
          val pred = replaceOpt.orElse(filterPred)
          // user option first: an explicit partitionCol that contradicts
          // the table's layout must reach run()'s mismatch guard, not be
          // shadowed by the table-derived hint (which always agrees)
          WriteIntoGraft.run(base, data.toDF(),
            overwriteAll = pred.isEmpty && (overwriteAll || overwrite),
            replaceWhere = pred,
            partColHint =
              Option(info.options.get(WriteIntoGraft.PartitionColOption))
                .orElse(tablePartCol),
            mergeSchema =
              Option(info.options.get(WriteIntoGraft.MergeSchemaOption))
                .exists(_.trim.toBoolean),
            txn = WriteIntoGraft.txnOf(
              Option(info.options.get(WriteIntoGraft.TxnAppIdOption)),
              Option(info.options.get(WriteIntoGraft.TxnVersionOption))),
            dynamicPartitionOverwrite = WriteIntoGraft.dynamicOverwrite(
              data.sparkSession,
              Option(info.options.get(
                WriteIntoGraft.PartitionOverwriteModeOption)),
              hasReplaceWhere = pred.isDefined))
          ()
        }
      }
  }
}

/** The staged table behind ATOMIC CTAS/RTAS
  * ([[GraftCatalog.stageCreate]]/stageReplace/stageCreateOrReplace):
  * the query's rows land through the normal transactional write —
  * create = a version-1 append, replace = a full-snapshot OVERWRITE
  * commit (history preserved; the pre-replace version stays time-
  * travelable). The write exec's `insert` only CAPTURES the query
  * plan; the data job and its one `tryCommit` both run inside
  * `commitStagedChanges`, so `abortStagedChanges` at ANY earlier point
  * genuinely leaves nothing committed (create) or the old table
  * untouched (replace) — there is no post-write pre-commit abort
  * window. Staged data files of an aborted/failed commit are
  * vacuum-reclaimable orphans.
  *
  * REPLACE property semantics (documented deviation from Delta's
  * reset-everything): declared properties and the declared PARTITIONED
  * BY override, undeclared existing properties survive — the format
  * keeps bookkeeping properties (identity high-waters, row-id bases)
  * whose erasure would corrupt the features they serve. Column-mapping
  * state (renames/tombstones) RESETS on REPLACE — it belongs to the
  * old schema world, and without the reset a new column re-using a
  * once-renamed name would be rejected as a physical-slot collision;
  * the pre-replace manifests keep their own colmap headers, so time
  * travel across the replace reads the old versions correctly. */
final class GraftStagedTable(
    spark: SparkSession,
    base: String,
    declaredSchema: StructType,
    transforms: Array[Transform],
    declaredProps: Map[String, String],
    replaceExisting: Boolean)
  extends org.apache.spark.sql.connector.catalog.StagedTable
  with SupportsWrite {

  private val partCol = WriteIntoGraft.partColOf(transforms)
  // the CTAS query's frame, captured by insert() and executed inside
  // commitStagedChanges — deferral is what makes the abort clean
  @volatile private var pending: Option[DataFrame] = None
  @volatile private var aborted = false

  override def name(): String = s"graft.`$base` (staged)"
  override def schema(): StructType = declaredSchema
  override def partitioning(): Array[Transform] = transforms
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE)
  override def properties(): util.Map[String, String] = declaredProps.asJava

  // SupportsOverwrite because the atomic RTAS exec plans the staged
  // write as truncate/overwrite-by-TRUE; the replace-vs-create
  // distinction already lives in `replaceExisting`, so the filters
  // carry no extra information here.
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      override def overwrite(filters: Array[Filter]): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: Dataset[Row], overwrite: Boolean): Unit = {
              pending = Some(data.toDF()); ()
            }
          }
      }
    }

  private def commitRows(data: DataFrame): Unit = {
    // no PARTITIONED BY = an unpartitioned table (single hidden
    // partition), Delta's default CTAS shape
    val pc = partCol.getOrElse(SnapshotLog.NoPartCol)
    SnapshotLog.appendBatch(spark, base, data, pc, batchId = 0L,
      overwrite = replaceExisting, propsAdd = declaredProps,
      resetColumnState = replaceExisting)
    reconcileProps()
  }

  /** Declared properties land in the SAME commit on REPLACE
    * (appendBatch's resetColumnState flips propsAdd to declared-wins),
    * so this is a pure safety net — it commits only if something
    * still differs, which no longer happens on the normal path. */
  private def reconcileProps(): Unit = if (replaceExisting) {
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = SnapshotLog.readManifest(fs, bp).map(_.props).getOrElse(Map.empty)
    val diff = declaredProps.filter { case (k, v) => !cur.get(k).contains(v) }
    if (diff.nonEmpty) SnapshotLog.setProperties(spark, base, diff)
  }

  /** THE one commit point: the captured CTAS frame (when the plan has
    * a query) or the declared empty shape (DDL-only CREATE/REPLACE)
    * lands here — nothing has touched the log before this runs, so an
    * abort anywhere earlier is free. */
  override def commitStagedChanges(): Unit = {
    require(!aborted, s"$base: staged CTAS was aborted")
    pending match {
      case Some(df) => commitRows(df)
      case None if !replaceExisting =>
        if (!SnapshotLog.createTable(spark, base, declaredSchema, declaredProps))
          sys.error(s"$base: lost the create race")
      case None =>
        import org.apache.spark.sql.functions.col
        // REPLACE to the declared (possibly different) schema with no
        // rows: an overwrite commit of an empty, schema-typed frame
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[Row](), declaredSchema)
          .select(declaredSchema.fieldNames.map(col): _*)
        commitRows(empty)
    }
  }

  override def abortStagedChanges(): Unit = { aborted = true; pending = None }
}

/** A graft table that does not exist yet, addressed for WRITING:
  * `df.write.format("graft").save(<fresh path>)` resolves here (the
  * provider has no manifest to build a [[GraftSnapshotTable]] from).
  * Schema and partitioning are the WRITE's own — Spark passes the
  * incoming frame's schema and `partitionBy` transforms because the
  * provider declares `supportsExternalMetadata`. Not readable: the
  * first committed write makes the path resolve normally. */
final class GraftPendingTable(
    base: String,
    writeSchema: StructType,
    transforms: Array[Transform]) extends Table with SupportsWrite {

  private val partCol = WriteIntoGraft.partColOf(transforms)

  override def name(): String = s"graft.`$base` (uncommitted)"

  override def schema(): StructType = writeSchema

  override def partitioning(): Array[Transform] = transforms

  override def capabilities(): util.Set[TableCapability] =
    // no BATCH_WRITE — see GraftSnapshotTable's capabilities note
    // (path saves must fall back to the CreatableRelationProvider)
    util.EnumSet.of(
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(base, partCol, info)

  override def properties(): util.Map[String, String] =
    Map.empty[String, String].asJava
}
