package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A minimal commit-log table format — the Iceberg/Delta model at its
  * irreducible core, for the CDC-upsert sink whose directory-swap
  * variant ([[graft.streaming.EventStreams.streamingUpsert]]) is honest
  * only where directory rename is atomic (HDFS, local FS). Layout:
  *
  * {{{
  *   table/
  *     _log/v00000000001.txt     one manifest per committed version
  *     data/b<batch>v<ver>-<tok>/__p=<part>/part-*.parquet
  * }}}
  *
  * A manifest is the COMPLETE list of live data files, one
  * `partition\tfile[\tstats]` line each. Readers list `_log`, pick the
  * highest COMPLETE version, and read exactly the files it names: a
  * reader never sees a half-written table because data files are
  * invisible until a manifest references them, and a manifest commits
  * by CREATE-EXCLUSIVE on its final name (O_EXCL locally, the
  * namenode's atomic create on HDFS, conditional PUT on object
  * stores) with a footer line marking completeness — a footer-less
  * manifest reads as absent ([[readManifest]] falls back; version
  * allocation is strictly base+1 over the newest COMPLETE root, see
  * [[nextVersion]] — publication is atomic, so no incomplete claim
  * ever occupies a version name). Orphaned data files from a crashed commit are
  * simply never referenced ([[vacuum]] reclaims them, outside a
  * retention window protecting in-flight writers). Create-refusal on
  * an existing name doubles as optimistic concurrency: a lost race
  * surfaces as a failed commit, and [[upsertBatch]] re-reads the new
  * state and retries — metadata-only when the winner touched disjoint
  * partitions.
  *
  * Partition pruning happens at the MANIFEST, not the directory walk:
  * [[readPartitions]] selects file paths by their recorded partition
  * value before Spark ever lists anything — the Iceberg insight that
  * makes planning O(manifest) instead of O(objects listed). Each data
  * file holds exactly one partition's rows and carries the partition
  * column as a real column (no Hive dir-name reconstruction needed).
  *
  * Scale: a manifest line is ~100 bytes per file; a 100 TB table at
  * 1 GB files is ~10^5 lines — megabytes, read once per plan. Per
  * upsert batch the IO is O(changed partitions) for data plus O(table
  * files) for the manifest rewrite; production formats shard manifests
  * per partition-subtree to cut that tail, which changes bookkeeping,
  * not this model.
  *
  * Contract shared with the swap-based sink: `partCol` values must be
  * non-null and stable per key, and their canonical string form must
  * not contain tab or newline (they key the manifest lines). */
object SnapshotLog {
  import ManifestCodec.{
    dec, listedVersions, logDir, manifest, mapCommitted, partitions,
    readRoot, references, rootBelow, vName}

  /** A deletion vector: the positions (0-based parquet row indexes)
    * deleted from ONE data file without rewriting it — merge-on-read
    * row-level DML (Delta's deletion vectors, Iceberg's positional
    * deletes). Small vectors ride INLINE in the manifest line
    * (base64 delta-varints, the Delta inline-DV idea); large ones
    * spill to a parquet sidecar dir under `_dv/` (column `pos`),
    * keeping the manifest O(bytes) regardless of delete size.
    * `count` is the exact cardinality either way — metadata COUNT(*)
    * subtracts it without decoding positions. */
  final case class Dv(
      count: Long,
      inlineB64: Option[String],
      sidecarRel: Option[String])

  /** A DV sidecar's file schema: the deleted positions. */
  private val DvSidecarSchema = StructType(Seq(StructField("pos", LongType)))

  /** @param files partition value → live data files (rel paths)
    * @param stats  rel file path → column → (min, max) as canonical
    *               strings — the Iceberg-manifest idea of planning from
    *               metadata: value predicates prune FILES before Spark
    *               lists or opens anything ([[filesForRange]]). Files
    *               without recorded stats are never pruned.
    * @param blooms rel file path → column → base64 Spark-sketch bloom
    *               ([[buildBlooms]]) — the point-lookup complement to
    *               min/max bounds: an equality probe on a
    *               NON-clustered high-cardinality key skips every file
    *               whose bloom proves absence ([[filesForKey]]). Files
    *               without a bloom are never pruned.
    * @param dvs    rel file path → live deletion vector. A file with a
    *               DV is read THROUGH it (its positions anti-filtered);
    *               stats/bloom bounds become conservative supersets,
    *               which can only under-prune, never lie.
    * @param schemaJson the table schema (Spark StructType JSON) held in
    *               METADATA — planning needs zero data-file footer
    *               reads (the Iceberg/Delta model). Evolved at commit:
    *               add-column merges append. Required on every
    *               committed manifest ([[tryCommit]] refuses to publish
    *               without it, [[readManifestAt]] refuses to read a
    *               root without it); None only on the in-memory empty
    *               base a first write starts from.
    * @param op     what produced this version (APPEND, UPSERT, DELETE,
    *               DELETE_DV, UPDATE, OPTIMIZE, STATS, BLOOMS, …) — the
    *               Delta DESCRIBE HISTORY operation column, surfaced by
    *               [[history]].
    * @param constraints name → CHECK expression (Spark SQL text).
    *               VERSIONED like everything else: every write op
    *               carries them forward, [[addConstraint]]/
    *               [[dropConstraint]] commit metadata-only versions,
    *               RESTORE rolls them back with the data. Writers
    *               enforce them on incoming batches (SQL NULL
    *               semantics: a row fails only when the expression is
    *               definitively FALSE).
    * @param txns   writer appId → highest batchId already committed —
    *               the Delta SetTransaction idea, the exactly-once
    *               handshake for streaming sinks: a replayed
    *               micro-batch (restart from checkpoint re-delivers
    *               the last batch) is detected INSIDE the optimistic
    *               commit loop and skipped, so at-least-once delivery
    *               from the engine becomes exactly-once in the table.
    *               Carried forward by every write op; RESTORE merges
    *               key-wise-max with the current state (watermarks
    *               must never move backwards or a restart duplicates);
    *               CLONE drops them (a stream's progress against the
    *               source says nothing about the clone — Delta
    *               semantics).
    * @param props  table properties (`#prop` header lines) — versioned
    *               metadata carried forward by every write, settable
    *               via `ALTER TABLE … SET TBLPROPERTIES`. One property
    *               is load-bearing: `graft.enableChangeDataFeed=true`
    *               makes EVERY write path publish a change feed
    *               (Delta's delta.enableChangeDataFeed), so a caller
    *               no longer has to remember `writeCdf` on each call.
    * @param colmap LOGICAL column name → PHYSICAL parquet column name,
    *               identity entries omitted (Delta column mapping):
    *               `RENAME COLUMN` is a metadata-only commit that
    *               re-points the logical name at the unchanged
    *               physical column — zero data files rewritten.
    *               [[Manifest.schema]] (the `#schema` header) is
    *               always the LOGICAL schema; data files, stats keys,
    *               and bloom keys are always PHYSICAL. Carried by
    *               every write; RESTORE rolls it back with the schema;
    *               CLONE copies it.
    * @param dropped PHYSICAL names tombstoned by `DROP COLUMN`: the
    *               bytes stay in the files (never read again), and a
    *               later ADD of the same logical name must map to a
    *               FRESH physical name or the dropped values would
    *               resurrect. Strictly grows; rolls back with RESTORE. */
  final case class Manifest(
      version: Long,
      files: Map[String, Seq[String]],
      stats: Map[String, Map[String, (String, String)]] = Map.empty,
      blooms: Map[String, Map[String, String]] = Map.empty,
      dvs: Map[String, Dv] = Map.empty,
      schemaJson: Option[String] = None,
      op: Option[String] = None,
      constraints: Map[String, String] = Map.empty,
      txns: Map[String, Long] = Map.empty,
      props: Map[String, String] = Map.empty,
      colmap: Map[String, String] = Map.empty,
      dropped: Set[String] = Set.empty,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty) {
    /** Physical parquet column for logical name `c`. */
    def phys(c: String): String = colmap.getOrElse(c, c)
    /** TOP-LEVEL physical names a NEW column may not claim: every
      * live top-level mapping target plus every top-level tombstone.
      * NESTED entries (dotted keys/paths — nested column mapping) are
      * scoped to their parent struct and checked there
      * ([[SnapshotLog.scopeTainted]]); a nested leaf named `x` must
      * not block an unrelated top-level `x`. */
    def taintedPhys: Set[String] =
      colmap.collect { case (k, v) if !k.contains('.') => v }.toSet ++
        dropped.filterNot(_.contains('.'))
    /** Change-data-feed enabled at the TABLE level (see [[props]]). */
    def cdfEnabled: Boolean =
      props.get(CdfProp).exists(_.trim.equalsIgnoreCase("true"))
    /** Row tracking enabled (see [[RowTrackingProp]]). */
    def rowTracking: Boolean =
      props.get(RowTrackingProp).exists(_.trim.equalsIgnoreCase("true"))
    /** Write-side schema widening enabled (see [[AutoMergeProp]]). */
    def autoMerge: Boolean =
      props.get(AutoMergeProp).exists(_.trim.equalsIgnoreCase("true"))
    /** Declared IDENTITY columns: col → (start, step) (see
      * [[IdentityPrefix]]); malformed declarations are ignored. */
    def identityCols: Seq[(String, (Long, Long))] =
      props.toSeq.collect {
        case (k, v) if k.startsWith(IdentityPrefix) &&
            !k.startsWith(IdentityHighWaterPrefix) =>
          val spec = v.split(":", 3)
          for {
            start <- spec.headOption.flatMap(_.trim.toLongOption)
            step <- spec.lift(1).flatMap(_.trim.toLongOption) if step != 0
          } yield k.stripPrefix(IdentityPrefix) -> (start, step)
      }.flatten.sortBy(_._1)
    /** `GENERATED BY DEFAULT AS IDENTITY` (the `:bydefault` spec
      * suffix): explicit values are accepted; only NULL slots
      * allocate. Caveat as in Delta: explicitly inserted values are
      * not reflected in the high-water mark. */
    def identityAllowsExplicit(c: String): Boolean =
      props.get(IdentityPrefix + c).exists(
        _.split(":", 3).lift(2).exists(_.trim.equalsIgnoreCase("bydefault")))
    /** Last allocated value for identity column `c` (start − step when
      * nothing was ever allocated, so the first id is `start`). */
    def identityHighWater(c: String, start: Long, step: Long): Long =
      props.get(IdentityHighWaterPrefix + c).flatMap(_.toLongOption)
        .getOrElse(start - step)
    /** (numBuckets, LOGICAL bucket columns) when the table is bucketed
      * (see [[BucketCountProp]]); None on any absent/invalid piece. */
    def bucketSpec: Option[(Int, Seq[String])] = for {
      n <- props.get(BucketCountProp).flatMap(_.trim.toIntOption)
      if n > 0
      cs <- props.get(BucketColsProp)
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      if cs.nonEmpty
    } yield (n, cs)
    /** Historical partition layouts by spec id (partition evolution —
      * see [[PartSpecPrefix]]); empty for never-evolved tables. */
    def partSpecHistory: Map[Int, String] = props.toSeq.collect {
      case (k, v) if k.startsWith(PartSpecPrefix) =>
        k.stripPrefix(PartSpecPrefix).toIntOption.map(_ -> v)
    }.flatten.toMap
    /** The layout partition key `k` was written under, when it differs
      * from the current one (see [[KeySpecPrefix]]); None = current. */
    def keyLayout(k: String): Option[String] =
      props.get(KeySpecPrefix + k).flatMap(_.toIntOption)
        .flatMap(partSpecHistory.get)
    /** Live partition keys written under a layout OTHER than the
      * current declared one — non-empty exactly while the table is in
      * the mixed-layout state partition evolution creates and
      * OPTIMIZE/rewrites migrate away. */
    def legacyKeys: Set[String] = {
      val cur = props.get(PartColProp)
      files.keySet.filter(k => keyLayout(k).exists(l =>
        !cur.exists(c => sameLayout(c, l))))
    }
    def allFiles: Seq[String] = files.values.flatten.toSeq.sorted
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.flatMap(j =>
        try Some(org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        catch { case _: Exception => None })
  }

  /** Reader features THIS engine implements. A manifest requiring
    * anything else fails closed at read. */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "partitionEvolution")

  /** Writer features THIS engine implements (a writer must also hold
    * every reader feature — it reads before it writes). */
  val SupportedWriterFeatures: Set[String] =
    SupportedReaderFeatures ++ Set("rowTracking", "checkConstraints",
      "identityColumns", "generatedColumns", "changeDataFeed", "bucketing")

  /** Fail-closed protocol violation: the table requires a feature this
    * engine (or a simulated older one) does not implement. */
  final class ProtocolException(msg: String) extends RuntimeException(msg)

  /** The table property that turns on the change data feed for every
    * write path (Delta's `delta.enableChangeDataFeed`). */
  val CdfProp = "graft.enableChangeDataFeed"

  /** Property-key prefix defining a GENERATED column (Delta's
    * `GENERATED ALWAYS AS`): `graft.generated.<col> = <sql expr>`.
    * Every write path computes the column from its expression when the
    * batch lacks it (or provides NULL), and VALIDATES any provided
    * non-null value against the expression in one aggregation pass —
    * a mismatch rejects the batch (CDC delete markers exempt, like
    * CHECK constraints). UPDATE recomputes generated columns over the
    * post-assignment row unless the statement sets them explicitly —
    * including the partition column, so an update to a dependency
    * MOVES the row correctly. Properties are versioned manifest
    * metadata, so the definition rides RESTORE/CLONE like constraints. */
  val GenColPrefix = "graft.generated."

  /** Session timezone the WRITER used when computing GENERATED
    * partition columns — stamped on the first write against a
    * generated-partition layout so
    * [[graft.plans.DerivePartitionFilter]] can REFUSE derivation under
    * a different reading timezone (a tz mismatch on
    * date_format/to_date/date_trunc shapes would silently prune
    * partitions that contain matching rows). Not under [[GenColPrefix]]
    * — that namespace's suffixes ARE column names. */
  val GenTzProp = "graft.generatedTimeZone"

  /** The [[GenTzProp]] stamp a commit should add: set once, only when
    * the layout routes by a GENERATED partition column and no stamp
    * exists yet. `props` is the commit's EFFECTIVE property view
    * (existing ++ incoming), so a first write that declares the
    * generated column via propsAdd stamps in the same commit.
    *
    * ENFORCED once stamped: a later writer whose session timezone
    * differs from the stamp REFUSES the write (mirroring the read-side
    * refusal in [[graft.plans.DerivePartitionFilter]]) — it would
    * compute generated partition values under a different clock than
    * every existing partition, and a reader whose timezone matches the
    * stamp would then pass the derivation gate and silently prune
    * partitions that contain matching rows. */
  private def genTzStamp(
      spark: SparkSession, props: Map[String, String],
      partCol: String): Map[String, String] = {
    val pcs = partColsOf(partCol)
    val routesByGenerated = props.keysIterator
      .filter(_.startsWith(GenColPrefix)).map(_.stripPrefix(GenColPrefix))
      .exists(g => pcs.exists(_.equalsIgnoreCase(g)))
    props.get(GenTzProp) match {
      case Some(stamp) =>
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        if (routesByGenerated && tz != stamp) throw new IllegalStateException(
          s"writer session timezone '$tz' differs from the table's " +
            s"stamped generation timezone '$stamp' ($GenTzProp) — " +
            "generated partition values would be computed under a " +
            "different clock than the existing partitions, and a reader " +
            "matching the stamp could silently prune partitions holding " +
            s"matching rows; set spark.sql.session.timeZone=$stamp")
        Map.empty
      case None =>
        if (routesByGenerated)
          Map(GenTzProp -> spark.sessionState.conf.sessionLocalTimeZone)
        else Map.empty
    }
  }

  /** Table property giving OPTIMIZE a per-file byte target: a
    * rewritten partition splits into ~ceil(bytes/target) files instead
    * of ONE. Folding a huge partition into a single file would
    * serialize its every future scan through one reader — at 100 TB
    * the target is what keeps compaction from destroying scan
    * parallelism. Absent/invalid = the historical one-file fold. */
  val OptimizeTargetProp = "graft.optimize.targetFileSize"

  /** Table-level default retention (HOURS) for a SQL `VACUUM` without
    * an explicit `RETAIN` clause — the per-table knob Delta exposes as
    * `deletedFileRetentionDuration`. Absent → the 24 h convention. */
  val VacuumRetentionProp = "graft.vacuum.retentionHours"

  /** The table's partition column, carried as a TABLE PROPERTY so
    * catalog consumers ([[GraftCatalog]]) and DML planning can learn
    * it from the manifest alone instead of a caller argument — the
    * "real deployment would carry this in table properties" note on
    * [[Catalog.dmlTargets]], made real. Writers that know their
    * partition column should `setProperties(… PartColProp -> col …)`
    * once after the first commit. */
  val PartColProp = "graft.partitionColumn"

  /** Property-key prefix registering a HISTORICAL partition layout
    * under partition evolution (`graft.partspec.<id> = <colsSpec>`) —
    * the Iceberg spec-v2 idea: changing a table's partitioning is a
    * METADATA commit ([[repartitionTable]]); files written under an
    * older layout stay exactly where they are, keyed in the manifest
    * under their ORIGINAL layout's keys, each tagged by a
    * [[KeySpecPrefix]] property pointing at its spec id here. The
    * CURRENT layout always lives in [[PartColProp]] (no id). */
  val PartSpecPrefix = "graft.partspec."

  /** Property-key prefix tagging one live partition KEY with the spec
    * id of the layout it was written under
    * (`graft.keyspec.<key> = <id>`) — present ONLY for keys whose
    * layout differs from the current one. Maintained automatically:
    * [[repartitionTable]] stamps them, every rewrite that migrates a
    * legacy partition to the current layout sheds them
    * ([[tryCommit]] prunes tags whose key left the manifest), and
    * RESTORE/CLONE carry them with the rest of the properties. */
  val KeySpecPrefix = "graft.keyspec."

  /** Same declared partition-column list (order-sensitive,
    * case-insensitive) — the layout-identity test partition evolution
    * uses everywhere. */
  private[sources] def sameLayout(a: String, b: String): Boolean =
    partColsOf(a).map(_.toLowerCase) == partColsOf(b).map(_.toLowerCase)

  /** Sentinel partition-column NAME for UNPARTITIONED tables (Delta's
    * most common table shape): the empty string. A manifest carrying
    * `PartColProp -> ""` is EXPLICITLY unpartitioned — distinct from a
    * manifest with no property at all, whose layout is undeclared and
    * still needs a caller-supplied column. Every write primitive
    * accepts it: rows route to the single hidden partition
    * [[SinglePart]] (`partitionBy` on a constant), so the manifest,
    * DML, OPTIMIZE, CDF, bucketing, and concurrency machinery all work
    * unchanged — an unpartitioned table IS a one-partition table whose
    * key no predicate can reference. */
  val NoPartCol = ""

  /** The one manifest partition key of an unpartitioned table. Never
    * collides with a real table's keys: partitioned and unpartitioned
    * layouts never mix under one manifest (the write surfaces refuse a
    * partition-column change), and partition-predicate pruning only
    * consults keys when a REAL partition column is declared. */
  val SinglePart = "__all__"

  /** The declared partition COLUMN LIST behind a `partCol` spelling.
    * One string threads through every signature; a MULTI-column
    * identity layout (`PARTITIONED BY (y, m)`) spells it as the
    * comma-joined list `"y,m"` in declaration order. Interpretation is
    * centralized here and in [[partRoute]]/[[partKeyComponents]] — the
    * empty string stays [[NoPartCol]] (unpartitioned). */
  def partColsOf(partCol: String): Seq[String] =
    if (partCol == null || partCol.trim.isEmpty) Nil
    else partCol.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** Per-component escaping inside a MULTI-column partition key: the
    * components join with `/`, so a literal `/` (and the escape char
    * `%` itself) percent-encode — `%`→`%25` first, then `/`→`%2F`,
    * making key→components injective for any string values. Single-
    * column keys stay the BARE canonical value (bit-compatible with
    * every pre-existing manifest). */
  private[sources] def encPartComp(s: String): String =
    s.replace("%", "%25").replace("/", "%2F")
  private[sources] def decPartComp(s: String): String =
    s.replace("%2F", "/").replace("%25", "%")

  /** Decompose a manifest partition key into its per-column canonical
    * strings under an `n`-column layout. Fails loudly on a key that
    * does not carry exactly `n` components — a manifest/layout mismatch
    * must never silently prune or mis-route. */
  def partKeyComponents(key: String, n: Int): Seq[String] =
    if (n <= 1) Seq(key)
    else {
      val parts = key.split("/", -1).toSeq
      require(parts.size == n,
        s"partition key '$key' does not decompose into $n components")
      parts.map(decPartComp)
    }

  /** Partition-routing expression: the canonical partition-value
    * string a row files under — the real column for partitioned
    * tables, the [[SinglePart]] constant for unpartitioned ones, and
    * for multi-column layouts the `/`-joined per-component encoding
    * (NULL in ANY component routes the row to the null key so the
    * staged NULL gate still fires). The ONE seam all
    * staging/affected-partition logic goes through. PUBLIC as
    * [[partitionKeyExpr]] so DML planning (MERGE's partition-move
    * detection) computes keys with the same encoding, optionally over
    * prefixed column names. */
  def partitionKeyExpr(partCol: String, prefix: String = ""): Column =
    partColsOf(partCol) match {
      case Nil => lit(SinglePart)
      case Seq(c) => col(prefix + c).cast("string")
      case cs =>
        when(cs.map(c => col(prefix + c).isNull).reduce(_ || _),
          lit(null).cast("string"))
          .otherwise(concat_ws("/", cs.map(c =>
            replace(replace(col(prefix + c).cast("string"),
              lit("%"), lit("%25")), lit("/"), lit("%2F"))): _*))
    }

  private def partRoute(partCol: String): Column = partitionKeyExpr(partCol)

  /** PARTITION EVOLUTION (Iceberg spec-v2 semantics): change the
    * table's declared partition layout as a METADATA-ONLY commit —
    * zero data files touched. Existing partitions stay keyed under
    * the layout they were written with (each key tagged via
    * [[KeySpecPrefix]], the outgoing layout registered under
    * [[PartSpecPrefix]]); new writes route under the new layout; reads
    * prune each key under its OWN layout
    * ([[SnapshotFileIndex]]) and DML computes affected partitions
    * under EVERY live layout ([[matchedKeysAllLayouts]]), so results
    * stay exact across the boundary. Rewrites (OPTIMIZE, DML touching
    * a legacy partition) re-route rows under the CURRENT layout —
    * the migration path; once no legacy key remains the table is
    * single-layout again and the `partitionEvolution` feature demand
    * disappears. Time travel to a pre-evolution version reads under
    * the old layout (the properties are versioned), and RESTORE rolls
    * the layout back with them.
    *
    * Evolving to `""` ([[NoPartCol]]) un-partitions the table for new
    * writes; evolving an undeclared-layout legacy table refuses (the
    * existing keys' layout would be unknowable). Returns the committed
    * version (the current one when the layout is already `newPartCol`).
    *
    * Scale: the commit is O(live partitions) metadata (one tag per
    * key). At 100 TB the point is precisely that NO data moves —
    * re-partitioning by rewrite would be a full-table shuffle; this is
    * one manifest write, and migration happens incrementally through
    * rewrites that were going to happen anyway. */
  def repartitionTable(
      spark: SparkSession, base: String, newPartCol: String,
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "REPARTITION", maxRetries) { (m, _, _) =>
      val cur = m.props.getOrElse(PartColProp, sys.error(
        s"$base does not declare $PartColProp — partition evolution " +
          "needs a declared layout (set the property once, '' for " +
          "unpartitioned)"))
      if (sameLayout(cur, newPartCol)) Done(m.version) else {
        val sc = m.schema.get
        partColsOf(newPartCol).foreach { c =>
          require(sc.fields.exists(_.name.equalsIgnoreCase(c)),
            s"no such column: $c (new partition layout '$newPartCol')")
        }
        // register the OUTGOING layout in the spec history, reusing its
        // id when this spelling was current once before (A → B → A)
        val hist = m.partSpecHistory
        val curId = hist.collectFirst { case (id, l) if sameLayout(l, cur) => id }
          .getOrElse(if (hist.isEmpty) 0 else hist.keys.max + 1)
        // untagged live keys were written under the outgoing layout;
        // keys tagged with the INCOMING layout become current again and
        // shed their tag
        val newTags = m.files.keySet
          .filterNot(k => m.props.contains(KeySpecPrefix + k))
          .map(k => (KeySpecPrefix + k) -> curId.toString).toMap
        val retag = m.props.keysIterator.filter(_.startsWith(KeySpecPrefix))
          .filter(k => m.props.get(k).flatMap(_.toIntOption).flatMap(hist.get)
            .exists(l => sameLayout(l, newPartCol))).toSeq
        val props0 = (m.props -- retag) ++ newTags +
          ((PartSpecPrefix + curId.toString) -> cur) +
          (PartColProp -> partColsOf(newPartCol).mkString(","))
        // a generated new partition column stamps its generation
        // timezone now (and enforces a mismatch against an existing
        // stamp), not at the first write — readers may derive before one
        val props = props0 ++ genTzStamp(spark, props0, newPartCol)
        Publish(m.copy(props = props, op = Some("REPARTITION")), identity)
      }
    }
  }

  /** The current layout plus every legacy layout with live keys in
    * `m` — the layouts a DML affected-set computation must consider. */
  private def liveLayouts(m: Manifest, partCol: String): Seq[String] = {
    val legacy = m.files.keySet.toSeq.flatMap(k => m.keyLayout(k))
      .distinct.filterNot(l => sameLayout(l, partCol))
    partCol +: legacy
  }

  /** On an EVER-EVOLVED table (any partition-evolution property
    * present), a caller-supplied layout that contradicts the declared
    * current one refuses loudly: a stale caller (e.g. a registration
    * that cached the pre-evolution column) routing rows under the old
    * layout would corrupt partition-scoped rewrites. Never-evolved
    * tables keep the historical trust-the-caller contract. */
  private def requireCurrentLayout(m: Manifest, partCol: String): Unit =
    if (m.props.keysIterator.exists(k =>
        k.startsWith(PartSpecPrefix) || k.startsWith(KeySpecPrefix)))
      m.props.get(PartColProp).foreach { declared =>
        require(sameLayout(declared, partCol),
          s"caller partition layout '$partCol' does not match the " +
            s"table's current layout '$declared' (the table's " +
            "partitioning evolved) — resolve the layout from the " +
            s"manifest's $PartColProp")
      }

  /** Every column any LIVE layout references: the declared current one
    * plus legacy layouts still holding keys — schema surgery
    * (RENAME/DROP COLUMN) on these would break key decomposition and
    * affected-set computation across the evolution boundary. */
  private def liveLayoutCols(m: Manifest): Seq[String] =
    (m.props.get(PartColProp).toSeq ++
      m.files.keySet.toSeq.flatMap(k => m.keyLayout(k)))
      .flatMap(partColsOf).distinct

  /** Distinct partition keys of `df`'s rows under EVERY live layout of
    * `m` — the DML affected-set computation that stays correct across
    * partition evolution: a matching row living in a legacy partition
    * is found by computing its key under THAT partition's layout, not
    * the current one. For the current layout all keys count (a
    * destination partition may not exist yet); for a legacy layout
    * only keys the manifest actually tracks under it. ONE job
    * regardless of layout count (all key expressions evaluate in a
    * single projection). Refuses when a legacy layout references a
    * column the live frame no longer carries — DROP COLUMN guards this
    * can't normally happen. */
  private def matchedKeysAllLayouts(
      df: DataFrame, m: Manifest, partCol: String): Seq[String] = {
    val layouts = liveLayouts(m, partCol)
    val cols = layouts.zipWithIndex.map { case (l, i) =>
      partColsOf(l).foreach(c => require(
        df.columns.exists(_.equalsIgnoreCase(c)),
        s"legacy partition layout '$l' references column $c, absent " +
          "from the live schema — cannot compute its affected partitions"))
      partitionKeyExpr(l).as(s"__pv$i")
    }
    val rows = df.select(cols: _*).distinct().collect()
    layouts.zipWithIndex.flatMap { case (l, i) =>
      val vals = rows.iterator.map(_.getString(i)).filter(_ != null)
      if (sameLayout(l, partCol)) vals.toSeq
      else {
        val keys = m.files.keySet.filter(k =>
          m.keyLayout(k).exists(kl => sameLayout(kl, l)))
        vals.filter(keys).toSeq
      }
    }.distinct.sorted
  }

  /** Refuse a staged write that lands files under a partition KEY the
    * manifest still tracks under a DIFFERENT (legacy) layout — merging
    * the two entries would pair one key string with two layouts.
    * Data-dependent and vanishingly rare (a current-layout key string
    * equal to a surviving legacy key); OPTIMIZE migrates the legacy
    * partition out of the way. `removed` keys are exempt — their
    * legacy entry (and tag) leaves the manifest in this very commit. */
  private def requireNoLegacyCollision(
      m: Manifest, partCol: String, stagedKeys: Iterable[String],
      removed: Set[String]): Unit = {
    val bad = stagedKeys.filterNot(removed).filter(k =>
      m.keyLayout(k).exists(l => !sameLayout(l, partCol)))
    require(bad.isEmpty,
      s"staged partition key(s) ${bad.mkString(", ")} collide with " +
        "legacy-layout manifest entries of the same name (partition " +
        "evolution) — OPTIMIZE the legacy partition(s) to migrate them " +
        "to the current layout first")
  }

  /** Typed per-column value expressions recovered from a canonical
    * partition-key string column — the inverse of [[partRoute]], used
    * by the partition-predicate metadata paths to evaluate user
    * predicates against manifest keys. */
  private def partKeyDecompose(
      key: Column, cols: Seq[String],
      types: Seq[org.apache.spark.sql.types.DataType]): Seq[Column] =
    if (cols.size == 1) Seq(key.cast(types.head).as(cols.head))
    else cols.indices.map { i =>
      replace(replace(element_at(split(key, "/", -1), i + 1),
        lit("%2F"), lit("/")), lit("%25"), lit("%"))
        .cast(types(i)).as(cols(i))
    }

  /** ROW TRACKING (Delta's row-id feature, the one table-format
    * capability the log still lacked): `graft.rowTracking = true` makes
    * every committed data file carry a BASE ROW ID in its manifest
    * stats ([[BaseRowIdKey]]), allocated race-safely inside the commit
    * itself ([[tryCommit]] → `allocateRowBases`) from the table's high
    * water ([[RowIdHighWaterProp]]) — so reads can expose a STABLE
    * per-row identity [[RowIdCol]] = base(file) + parquet row index,
    * unique across the table's whole history and dense over the rows of
    * any single allocation epoch. Enabling the property on an existing
    * table retro-allocates every live file at the enabling commit
    * (row counts come from manifest stats, or one footer read per
    * not-yet-counted file — a one-time O(files) driver pass).
    *
    * Stability contract (what a downstream incremental consumer may
    * rely on): ids survive APPENDs, merge-on-read DELETEs (DVs retire
    * deleted ids, survivors keep theirs), and OPTIMIZE/compaction —
    * rewrites MATERIALIZE the ids into a physical column
    * ([[MatRowIdCol]]) first, exactly Delta's materialized-row-id
    * design, and reads coalesce(materialized, base + row_index).
    * MERGE/upsert rewrites preserve ids BY KEY — an updated row keeps
    * its identity, even across a partition move — via the same
    * materialization (a (keys → id) side frame re-attaches to the
    * merge output); only genuinely NEW keys allocate fresh ids. The
    * predicate-rewrite paths (non-DV DELETE, UPDATE) reassign the
    * rewritten rows (use DV deletes on tracked tables); rows in
    * untouched files never change ids. RowTrackingSpec grades each
    * clause. */
  val RowTrackingProp = "graft.rowTracking"

  /** Next unallocated row id (table-level counter, carried in props
    * and advanced only inside committed manifests — a lost race never
    * burns or duplicates id space). */
  val RowIdHighWaterProp = "graft.rowTracking.highWaterMark"

  /** Stats pseudo-column holding a data file's base row id (rides the
    * existing per-file stats serialization like [[RowCountKey]];
    * never a real column name, so pruning ignores it). */
  val BaseRowIdKey = "__rowBase"

  /** The logical row-id column reads expose on tracked tables. */
  val RowIdCol = "_graft_row_id"

  /** Physical parquet column carrying MATERIALIZED row ids through
    * maintenance rewrites; never part of the logical schema, read as
    * the first branch of the id coalesce. */
  val MatRowIdCol = "__graft_row_id_mat"

  /** Bucketed-table properties: `graft.bucket.count = <n>` +
    * `graft.bucket.columns = <c1[,c2…]>` (logical names) make every
    * data-writing commit stage SPARK-BUCKETED files — rows
    * `repartition(n, cols)`-routed so the RDD partition index IS the
    * Spark bucket id (`HashPartitioning.partitionIdExpression`, the
    * same murmur3+pmod Spark's own bucketed writer computes), then the
    * staged files renamed to carry the `_NNNNN` bucket tag
    * `FileSourceScanExec`'s bucketed scan trusts. [[SnapshotRelation]]
    * hands the spec to `HadoopFsRelation`, so a fact⋈fact join of two
    * snapshot tables bucketed the same way plans with ZERO exchanges —
    * the 100 TB join path a broadcast heuristic cannot reach; the
    * shuffle is paid once per write, amortized over every read.
    * Settable only while the table has no data files (existing files
    * lack bucket tags and a mixed layout would fail the bucketed
    * scan); UNSET at any time simply returns to unbucketed planning
    * (the tag is just part of the file name). Sort columns are
    * deliberately NOT recorded: buckets accumulate one file per write,
    * and Spark only elides the join sort for single-file buckets —
    * claiming sortedness would be wrong after the second commit. */
  val BucketCountProp = "graft.bucket.count"
  val BucketColsProp = "graft.bucket.columns"

  /** IDENTITY columns (Delta's `GENERATED ALWAYS AS IDENTITY`):
    * `graft.identity.<col> = <start>:<step>` declares one; the
    * allocated HIGH-WATER mark rides in the same versioned property
    * channel as `graft.identity.highwater.<col>`, updated atomically
    * in the SAME commit as the data it covers (the txn-watermark
    * pattern). Append paths enforce ALWAYS — a provided non-null
    * value rejects; absent/NULL slots allocate `hw + step, hw +
    * 2·step, …` (contiguous within a batch, sharded assignment with a
    * tiny offset collect — never a single-partition window). Merge
    * paths allocate ONLY NULL slots: an update arm carries the
    * table's own existing id and must keep it. Allocation is MONOTONE
    * and GAP-TOLERANT across optimistic-commit races: a loser re-reads
    * the winner's high-water and re-stages with fresh ids (the staged
    * orphans are vacuum's); ids of a crashed attempt are simply never
    * used. Declarable only while the table has no data files (existing
    * rows' values are unknown to the high-water). RESTORE rolls the
    * mark back with the props — re-allocating ids whose rows were
    * restored away is safe and keeps the sequence dense. */
  val IdentityPrefix = "graft.identity."
  val IdentityHighWaterPrefix = "graft.identity.highwater."

  /** The table property that lets writes WIDEN the schema with columns
    * the statement carries beyond the table (Delta's
    * `delta.schema.autoMerge`): `INSERT INTO … BY NAME` and MERGE
    * star-actions adopt extra source columns as new nullable fields
    * instead of dropping them. Default OFF — silent widening is a
    * choice, not a default. */
  val AutoMergeProp = "graft.autoMergeSchema"

  /** Thrown by [[appendBatch]] when SOME (not all) of a multi-key
    * transaction batch's keys are already committed — a concurrent
    * ingest absorbed part of the batch, so the staged contents are
    * stale. The caller (COPY INTO) re-diffs and restages. */
  final class PartialTxnConflict(msg: String) extends RuntimeException(msg)

  /** Above this many positions a DV spills to a parquet sidecar —
    * bounds BOTH the driver-side work at delete time (positions are
    * only ever collected below the cap; a bigger delete stays a fully
    * distributed write) and the manifest's size. */
  val DvInlineMax = 100000

  /** Above this many positions summed across ALL inline DVs of the
    * files in one read, the DV anti-join side is no longer broadcast —
    * a table that accumulated many per-file inline vectors over many
    * commits must not grow the broadcast without bound (each file's
    * vector is individually capped at [[DvInlineMax]], but nothing
    * caps their count). */
  val DvBroadcastMax = 10L * DvInlineMax

  /** Above this many live files a commit writes a SHARDED manifest:
    * the root version file holds one `#shard` pointer line per
    * partition (with file/row/DV-count rollups and a content hash)
    * and the per-file lines live in immutable side files under
    * `_log/`. A commit touching K of P partitions then rewrites K
    * shard files + one O(P) root — not O(total files) — and
    * partition-pruned reads load only the wanted shards. Below the
    * threshold the root holds every file line itself (the inline
    * layout). [[ManifestCodec]] owns all three layouts. */
  val ShardFileThreshold = 4096

  /** Past this many partitions a sharded root goes TWO-LEVEL: the
    * root holds one `#sgroup` pointer line per GROUP of
    * [[ShardGroupSize]] consecutive (sorted) partitions, each group
    * file holding that chunk's `#shard` lines. Root size is then
    * O(partitions / groupSize) — at 10⁵ partitions, ~200 lines —
    * while a commit touching K partitions rewrites K shard files +
    * the touched groups + the root. Groups are CONTIGUOUS NAME RANGES
    * (recorded first/last per line), not hash buckets: membership is
    * pure data, so a reader can never compute a wrong bucket, and
    * append-mostly partition growth (new dates sort last) leaves
    * earlier groups byte-identical for hash reuse. */
  val ShardGroupSize = 512

  /** Past this many transaction watermarks ([[Manifest.txns]] — one
    * per streaming writer app, one per COPY INTO'd file) the `#txn`
    * header lines spill to a content-hashed side file under `_log/`
    * and the root carries ONE `#txnfile` pointer — the shard treatment
    * for the per-file `copy:` watermark channel, whose growth is
    * O(ingested files) for the table's life. Every root stays O(1) in
    * the watermark count; a commit that leaves the set unchanged
    * (maintenance, non-COPY writes) REUSES the previous side file on
    * content-hash match, zero bytes rewritten. Overridable per table
    * via [[TxnSpillProp]] (tests use tiny thresholds). */
  val TxnSpillThreshold = 4096
  val TxnSpillProp = "graft.txn.spillThreshold"

  /** Opt `base` into sharded manifest commits regardless of size;
    * `grouped = true` also forces the two-level root layout. */
  def enableSharding(
      fs: FileSystem, base: Path, grouped: Boolean = false): Unit =
    ManifestCodec.markSharded(fs, base, grouped)

  private def dvDir(base: Path) = new Path(base, "_dv")

  /** Delta-varint encode sorted positions → base64 (inline-DV payload).
    * ~1–2 bytes per position for dense deletes. */
  private[sources] def encodePositions(sorted: Array[Long]): String = {
    val bos = new java.io.ByteArrayOutputStream(sorted.length * 2)
    var prev = 0L
    for (p <- sorted) {
      var d = p - prev // first delta = first position (prev starts 0)
      prev = p
      while ((d & ~0x7FL) != 0L) {
        bos.write(((d & 0x7F) | 0x80).toInt); d >>>= 7
      }
      bos.write(d.toInt)
    }
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  private[sources] def decodePositions(b64: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val out = collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    var prev = 0L
    while (i < bytes.length) {
      var d = 0L; var shift = 0
      var b = 0
      do {
        b = bytes(i) & 0xFF; i += 1
        d |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      prev += d
      out += prev
    }
    out.toArray
  }

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The O(1) latest-version HINT (Delta's `_last_checkpoint` shape):
    * one integer, rewritten best-effort after every commit win. A
    * hint is NEVER trusted blindly — [[currentVersion]] validates it
    * against the atomic version roots and probes forward; stale,
    * corrupt, or missing hints degrade to the full `_log` listing,
    * never to a wrong version. */
  private def latestHintPath(base: Path) = new Path(logDir(base), "_latest")

  private def writeLatestHint(fs: FileSystem, base: Path, v: Long): Unit =
    try {
      val tmp = new Path(logDir(base),
        s".tmp-latest-${java.util.UUID.randomUUID.toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // advisory publish: rename-over (delete-then-rename where the FS
      // refuses an existing target) — any torn/lost state is caught by
      // read-side validation, so best-effort is safe here
      fs.delete(latestHintPath(base), false)
      if (!fs.rename(tmp, latestHintPath(base))) fs.delete(tmp, false)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Full-listing resolutions, counted so the scale spec can prove a
    * hint-carrying table resolves O(1) (no O(#versions) listing). */
  private[sources] val fullLogListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Highest version NAME present (committed or in-flight), 0 when the
    * table does not exist yet. Writers allocate `currentVersion + 1` so
    * a crashed in-flight manifest never blocks the version chain;
    * readers use [[readManifest]], which skips incomplete manifests.
    *
    * Resolution is O(1) when the [[latestHintPath]] hint is present:
    * version names are DENSE (every claim is previous-max + 1 and the
    * atomic link/rename publication admits no gaps), so a validated
    * hint plus forward existence probes finds the true maximum without
    * listing `_log` — the 10^5-commit object-store listing stops being
    * the read-path floor. Any doubt falls back to the listing. */
  def currentVersion(fs: FileSystem, base: Path): Long = {
    val dir = logDir(base)
    val hinted: Option[Long] =
      try {
        val hp = latestHintPath(base)
        if (!fs.exists(hp)) None
        else {
          ManifestCodec.readText(fs, hp).trim.toLongOption
            // validate against the atomic roots: the hinted version
            // must actually exist (a corrupt/fabricated hint must not
            // invent versions)
            .filter(v => v > 0L && fs.exists(new Path(dir, vName(v))))
            .map { v0 =>
              // probe FORWARD past commits the hint missed (hint
              // writes are best-effort and racy by design)
              var v = v0
              while (fs.exists(new Path(dir, vName(v + 1)))) v += 1
              v
            }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    hinted.getOrElse {
      fullLogListings.incrementAndGet()
      listedVersions(fs, base).foldLeft(0L)(math.max)
    }
  }

  /** All COMMITTED (footer-complete) versions, ascending. Only root
    * manifests are opened — shard files never load here. */
  def committedVersions(fs: FileSystem, base: Path): Seq[Long] =
    mapCommitted(fs, base)(_.version)

  /** [[committedVersions]] for a reader that polls: each [[versions]]
    * call opens only the roots published since the previous call.
    * Version names are dense and complete-or-absent, so everything up
    * to the newest name ([[currentVersion]], O(1) from the `_latest`
    * hint) is classified once and stays classified. [[expireVersions]]
    * deletes the oldest roots, so known versions whose root is gone
    * drop from the front (one existence probe per call). */
  private[graft] final class CommitTail(base: Path) {
    private var known = Vector.empty[Long]
    private var scannedTo = 0L

    def versions(fs: FileSystem): Seq[Long] = synchronized {
      while (known.nonEmpty && !fs.exists(new Path(logDir(base), vName(known.head))))
        known = known.tail
      val newest = currentVersion(fs, base)
      if (newest > scannedTo) {
        val fresh =
          if (scannedTo == 0L) listedVersions(fs, base).filter(_ <= newest).sorted
          else scannedTo + 1 to newest
        known ++= fresh.filter(v => readRoot(fs, base, v).isDefined)
        scannedTo = newest
      }
      known
    }
  }

  /** The version a commit built on a base manifest at `mVersion` must
    * claim: `mVersion + 1`, skipping only provably-DEAD claims
    * (visible-but-footerless roots, which only pre-atomic-publication
    * writers could leave — post-r13 publication is complete-or-absent,
    * so a footerless visible root is never a live writer). NEVER
    * allocates past a COMMITTED version: the old
    * `max(m.version, currentVersion) + 1` could jump past a commit
    * that landed between the manifest read and the version
    * computation, and the create-exclusive claim at the jumped-to
    * number then SUCCEEDED with the stale base — silently dropping the
    * interleaved commit's batch (caught by CommitScaleSpec's 4-writer
    * race: 21 versions, 19 rows). With base+1 allocation the claim
    * itself enforces base freshness: a racer's commit makes our number
    * exist, our claim fails, and the retry re-reads the live manifest. */
  private def nextVersion(fs: FileSystem, base: Path, mVersion: Long): Long = {
    var v = mVersion + 1
    while (fs.exists(new Path(logDir(base), vName(v))) &&
        readRoot(fs, base, v).isEmpty) v += 1
    v
  }

  def readManifest(fs: FileSystem, base: Path): Option[Manifest] =
    readManifest(fs, base, None)

  /** Newest committed manifest, optionally loading only the
    * partitions `partPred` accepts — on a sharded manifest the pruned
    * shards are never opened (O(touched shards) planning); on an
    * inline manifest the pruning is in-memory. The returned Manifest
    * then holds ONLY the accepted partitions. */
  def readManifest(
      fs: FileSystem, base: Path,
      partPred: Option[String => Boolean]): Option[Manifest] =
    rootBelow(fs, base, currentVersion(fs, base) + 1)
      .map(manifest(fs, base, _, partPred))

  /** The manifest of a specific committed version (time travel: every
    * manifest is immutable once committed and [[vacuum]] keeps every
    * committed version's files, so any historical snapshot remains
    * readable until its manifest is explicitly expired). A
    * partially-written root (create-exclusive claimed, writer died)
    * reads as absent. */
  def readManifestAt(
      fs: FileSystem, base: Path, v: Long,
      partPred: Option[String => Boolean] = None): Option[Manifest] =
    readRoot(fs, base, v).map(manifest(fs, base, _, partPred))

  /** Time-travel read: the table exactly as of committed version `v`.
    * Routed through the same planner-integrated relation as the
    * current-snapshot [[read]] (manifest stats/bloom/partition file
    * skipping, zero plan-time data-file RPCs: the manifest carries
    * schema + sizes) — a historical version deserves the same plan
    * quality as the live one. */
  def readVersion(
      spark: SparkSession, base: String, v: Long,
      partCol: Option[String] = None): Option[DataFrame] = {
    val bp = new Path(base)
    readManifestAt(fsFor(spark, bp), bp, v).map(m =>
      readSnapshot(spark, bp, m, partCol))
  }

  /** The newest committed version whose manifest was PUBLISHED at or
    * before `millis` (epoch ms) — `TIMESTAMP AS OF` resolution. Commit
    * time is the root's IN-COMMIT `#ts` stamp (monotone, survives
    * storage-layer mtime churn) — the same clock [[history]]
    * reports. */
  def versionAsOfTime(
      spark: SparkSession, base: String, millis: Long): Option[Long] = {
    val bp = new Path(base)
    mapCommitted(fsFor(spark, bp), bp)(r => r.version -> r.commitTs(bp))
      .filter(_._2 <= millis).lastOption.map(_._1)
  }

  /** The per-table-unique join key for a data file: its last TWO path
    * segments (`<parent dir>/<part file>`). The basename alone is NOT
    * unique — one `partitionBy` job writes the same part-NNNNN-<uuid>
    * name into every partition dir it touches — but parent+basename
    * collides only if two distinct write jobs draw the same UUID
    * (the same 2⁻¹²² Delta leans on). Uniqueness is asserted when a DV
    * commits. */
  private def dvKey(f: String): String = {
    val i = f.lastIndexOf('/', math.max(f.lastIndexOf('/') - 1, 0))
    if (i < 0) f else f.substring(i + 1)
  }

  /** `dvKey` of the scanned file, from the parquet `_metadata` column.
    *
    * `file_path` is a URI: the filesystem layer percent-encodes the
    * on-disk name (a partition value like `Brand#1` is Spark-escaped to
    * `Brand%231` on disk, which the URI then shows as `Brand%25231`),
    * while manifest rel paths hold the raw on-disk names — so the URI
    * form must be DECODED once or every (file, position) join silently
    * misses such files. `url_decode` is exact for URI paths except its
    * form-encoding quirk of turning `+` into a space; pre-escaping the
    * literal `+` keeps it. `/` is never percent-encoded in a path, so
    * taking the last two segments first is safe. */
  private def dvKeyCol: Column =
    expr("url_decode(replace(" +
      "substring_index(_metadata.file_path, '/', -2), '+', '%2B'))")

  /** The deletion-vector rows covering `files`, as a ([[dvKey]],
    * position) DataFrame — inline payloads decode on the driver
    * (bounded by [[DvInlineMax]] each), sidecars stream from parquet.
    * None when no file has a DV. */
  private def dvRows(
      spark: SparkSession, bp: Path, m: Manifest,
      files: Seq[String]): Option[(DataFrame, Boolean)] = {
    val dvd = files.flatMap(f => m.dvs.get(f).map(f -> _))
    if (dvd.isEmpty) return None
    import spark.implicits._
    val inline = dvd.collect { case (f, Dv(_, Some(b64), _)) =>
      decodePositions(b64).toSeq.map(dvKey(f) -> _)
    }.flatten
    val inlineDf =
      if (inline.isEmpty) Nil
      else Seq(inline.toDF("__dv_file", "__dv_pos"))
    val sidecars = dvd.collect { case (f, Dv(_, None, Some(rel))) =>
      spark.read.schema(DvSidecarSchema).parquet(new Path(bp, rel).toString)
        .select(lit(dvKey(f)).as("__dv_file"), col("pos").as("__dv_pos"))
    }
    // broadcast only when every DV is inline AND their union is small:
    // per-file inline vectors are capped, their COUNT is not, so a
    // long-lived table's accumulated inline DVs must not grow the
    // broadcast (or the executors' copy of it) without bound
    val broadcastOk = sidecars.isEmpty && inline.size <= DvBroadcastMax
    Some(((inlineDf ++ sidecars).reduce(_ unionByName _), broadcastOk))
  }

  /** Read `files` (rel paths under `bp`) of `m` THROUGH their
    * deletion vectors, typed by `m`'s schema: one scan built like the
    * query relation's ([[SnapshotRelation.scanFiles]]), so no footer is
    * read and no listing runs. Rows at DV positions are anti-joined out
    * via the parquet `_metadata` row index — merge-on-read; the anti-join
    * side is broadcast when every DV is inline (driver-bounded), while
    * sidecar-backed vectors go through the planner's own choice so an
    * arbitrarily large delete can never OOM the broadcast. `rowIds`
    * exposes [[RowIdCol]] on row-tracked tables (the maintenance
    * rewrites that materialize ids); merge and CDC reads leave it off —
    * row ids are identity metadata, not merge input. */
  private def readFiles(
      spark: SparkSession, bp: Path, m: Manifest,
      files: Seq[String], rowIds: Boolean = false): DataFrame =
    overScan(spark, bp, m, files,
      SnapshotRelation.scanFiles(spark, bp, m,
        files.map(f => f -> fileBytes(m, f)), scanSchema(m, rowIds)),
      rowIds)

  /** What a scan of `m`'s files reads: the logical schema under
    * physical names, plus, with `rowIds` on a row-tracked table, the
    * MATERIALIZED id column (files that predate a rewrite read null for
    * it and fall back to base + row index in [[attachRowIds]]). */
  private[sources] def scanSchema(m: Manifest, rowIds: Boolean): StructType = {
    val phys = physSchema(m, m.schema.get)
    if (rowIds && m.rowTracking)
      StructType(phys.fields :+ StructField(MatRowIdCol, LongType, nullable = true))
    else phys
  }

  /** The layers above a raw scan of `files` from `m`, shared by
    * [[readFiles]] and the query relation: row ids (with `rowIds`),
    * deletion vectors, logical names. */
  private[sources] def overScan(
      spark: SparkSession, bp: Path, m: Manifest, files: Seq[String],
      raw: DataFrame, rowIds: Boolean): DataFrame = {
    val keyed = if (rowIds) attachRowIds(spark, bp, m, files, raw) else raw
    toLogical(applyDvs(spark, bp, m, files, keyed).drop("__rt_file", "__rt_pos"), m)
  }

  /** Expose [[RowIdCol]] on a raw scan of `files` from a row-tracked
    * table, read with [[scanSchema]]'s materialized id column:
    * coalesce(materialized id, base(file) + parquet row index).
    * Runs BEFORE [[applyDvs]] (both need `_metadata.row_index`; the
    * anti-join then retires deleted ids). The (file → base) side is
    * manifest-bounded metadata and broadcasts, like the inline-DV
    * side. No-op on untracked tables. */
  private def attachRowIds(
      spark: SparkSession, bp: Path, m: Manifest,
      files: Seq[String], raw: DataFrame): DataFrame = {
    if (!m.rowTracking) return raw
    import spark.implicits._
    val mat = col(MatRowIdCol)
    val bases = files.flatMap(f =>
      m.stats.get(f).flatMap(_.get(BaseRowIdKey)).flatMap(_._1.toLongOption)
        .map(b => (dvKey(f), b)))
    val withId =
      if (bases.isEmpty) raw.withColumn(RowIdCol, mat)
      else raw
        // materialize both metadata refs BEFORE the join — `_metadata`
        // is a hidden column only the scan's own projections can see.
        // `__rt_file`/`__rt_pos` stay in the output: a downstream
        // [[applyDvs]] reuses them (its own `_metadata` access cannot
        // survive this join), and the caller drops them at the end.
        .withColumn("__rt_file", dvKeyCol)
        .withColumn("__rt_pos", col("_metadata.row_index"))
        .join(broadcast(bases.toDF("__rt_file", "__rt_base")),
          Seq("__rt_file"), "left")
        .withColumn(RowIdCol,
          coalesce(mat, col("__rt_base") + col("__rt_pos")))
        .drop("__rt_base")
    withId.drop(MatRowIdCol)
  }

  // ---- NESTED column mapping -------------------------------------------
  //
  // [[Manifest.colmap]] keys may be DOTTED LOGICAL PATHS ("meta.nm");
  // the value is always the leaf's PHYSICAL field name within its
  // parent struct. [[Manifest.dropped]] entries may be DOTTED PHYSICAL
  // paths. Top-level entries keep their original meaning bit-for-bit,
  // so pre-existing manifests parse and behave unchanged. The path
  // separator is '.', which Spark nested references use anyway; a
  // top-level column with a literal dot in its name is outside this
  // feature (the same limitation Spark's own nested handling has).
  // Arrays of structs map their ELEMENT fields under the array's own
  // path (no extra segment) — the Delta convention.

  /** Any mapping or tombstone STRICTLY BELOW logical path `lp` /
    * physical path `pp` — the trigger for rebuilding a struct column
    * instead of passing it through. */
  private def nestedStateUnder(m: Manifest, lp: String, pp: String): Boolean = {
    val lpfx = lp + "."
    val ppfx = pp + "."
    m.colmap.keysIterator.exists(_.startsWith(lpfx)) ||
      m.dropped.exists(_.startsWith(ppfx))
  }

  /** PHYSICAL dotted path of a LOGICAL dotted path: each segment maps
    * through the colmap entry of its growing logical prefix. */
  private[sources] def physPathOf(m: Manifest, logPath: String): String = {
    val segs = logPath.split("\\.").toSeq
    segs.foldLeft(("", List.empty[String])) { case ((pfx, acc), seg) =>
      val lp = if (pfx.isEmpty) seg else s"$pfx.$seg"
      (lp, m.colmap.getOrElse(lp, seg) :: acc)
    }._2.reverse.mkString(".")
  }

  /** Is physical subfield name `name` claimed or tombstoned within the
    * struct at logical path `parentLog`? The nested analog of
    * [[Manifest.taintedPhys]] — a re-added same-name subfield must map
    * to a fresh physical slot or the dropped bytes resurrect. */
  private[sources] def scopeTainted(
      m: Manifest, parentLog: String, name: String): Boolean = {
    val pfx = parentLog + "."
    m.colmap.exists { case (k, v) =>
      k.startsWith(pfx) && !k.stripPrefix(pfx).contains('.') && v == name
    } || m.dropped.contains(physPathOf(m, parentLog) + "." + name)
  }

  /** The PHYSICAL type of a LOGICAL type rooted at `logPath`: subfield
    * names rename recursively through the mapping; shape unchanged
    * (tombstoned slots are absent from the logical type already). */
  private def physTypeOf(
      m: Manifest, dt: org.apache.spark.sql.types.DataType,
      logPath: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val lp = s"$logPath.${f.name}"
        f.copy(name = m.colmap.getOrElse(lp, f.name),
          dataType = physTypeOf(m, f.dataType, lp))
      })
      case ArrayType(e, n) => ArrayType(physTypeOf(m, e, logPath), n)
      case other => other
    }
  }

  /** The LOGICAL type of a PHYSICAL type rooted at (logPath, physPath):
    * names invert through each scope's mapping, tombstoned physical
    * subpaths disappear. */
  private def logicalTypeOf(
      m: Manifest, dt: org.apache.spark.sql.types.DataType,
      logPath: String, physPath: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    dt match {
      case st: StructType =>
        val pfx = logPath + "."
        val inv = m.colmap.collect {
          case (k, v) if k.startsWith(pfx) &&
              !k.stripPrefix(pfx).contains('.') =>
            (v, k.stripPrefix(pfx))
        }
        StructType(st.fields.toSeq.flatMap { f =>
          val pp = s"$physPath.${f.name}"
          if (m.dropped(pp)) None
          else {
            val ln = inv.getOrElse(f.name, f.name)
            Some(f.copy(name = ln,
              dataType = logicalTypeOf(m, f.dataType, s"$logPath.$ln", pp)))
          }
        })
      case ArrayType(e, n) =>
        ArrayType(logicalTypeOf(m, e, logPath, physPath), n)
      case other => other
    }
  }

  /** Rebuild a LOGICAL-shaped column into its PHYSICAL shape when any
    * nested mapping/tombstone lives below it; identity otherwise.
    * Source nullness is preserved (the struct rebuild would otherwise
    * turn a NULL struct into a struct of NULLs). */
  private def toPhysicalCol(
      m: Manifest, src: Column,
      dt: org.apache.spark.sql.types.DataType, logPath: String): Column = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    dt match {
      case st: StructType
          if nestedStateUnder(m, logPath, physPathOf(m, logPath)) =>
        val fields = st.fields.toSeq.map { f =>
          val lp = s"$logPath.${f.name}"
          if (!m.colmap.contains(lp) && scopeTainted(m, logPath, f.name))
            sys.error(s"subfield '$lp' collides with a renamed/dropped " +
              "physical slot; re-add it via ALTER TABLE ADD COLUMNS")
          toPhysicalCol(m, src.getField(f.name), f.dataType, lp)
            .as(m.colmap.getOrElse(lp, f.name))
        }
        when(src.isNull, lit(null).cast(physTypeOf(m, st, logPath)))
          .otherwise(struct(fields: _*))
      case ArrayType(st: StructType, _)
          if nestedStateUnder(m, logPath, physPathOf(m, logPath)) =>
        transform(src, x => toPhysicalCol(m, x, st, logPath))
      case _ => src
    }
  }

  /** Inverse of [[toPhysicalCol]]: a PHYSICAL-shaped column back to its
    * LOGICAL shape — subfields rename back, tombstoned physical
    * subpaths are projected away (resurrection-proofing: downstream
    * schema alignment matches by name). */
  private def toLogicalCol(
      m: Manifest, src: Column,
      physDt: org.apache.spark.sql.types.DataType,
      logPath: String, physPath: String): Column = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    physDt match {
      case st: StructType if nestedStateUnder(m, logPath, physPath) =>
        val pfx = logPath + "."
        val inv = m.colmap.collect {
          case (k, v) if k.startsWith(pfx) &&
              !k.stripPrefix(pfx).contains('.') =>
            (v, k.stripPrefix(pfx))
        }
        val fields = st.fields.toSeq.flatMap { f =>
          val pp = s"$physPath.${f.name}"
          if (m.dropped(pp)) None
          else {
            val ln = inv.getOrElse(f.name, f.name)
            Some(toLogicalCol(m, src.getField(f.name), f.dataType,
              s"$logPath.$ln", pp).as(ln))
          }
        }
        when(src.isNull,
          lit(null).cast(logicalTypeOf(m, st, logPath, physPath)))
          .otherwise(struct(fields: _*))
      case ArrayType(st: StructType, _)
          if nestedStateUnder(m, logPath, physPath) =>
        transform(src, x => toLogicalCol(m, x, st, logPath, physPath))
      case _ => src
    }
  }

  /** Rename a frame's LOGICAL data columns to their PHYSICAL parquet
    * names — the last step before any staged data write, so files on
    * disk always carry physical names regardless of renames
    * ([[Manifest.colmap]]). Bookkeeping columns (`__p`, `__op`, …)
    * have no mapping and pass through. A column OUTSIDE the mapping
    * whose identity name is tombstoned or claimed as another column's
    * physical target fails fast — silently writing it would alias
    * dropped/renamed bytes (evolution of such a name goes through
    * ALTER TABLE ADD COLUMNS, which assigns a fresh physical name).
    * NESTED mappings/tombstones rebuild the struct recursively
    * ([[toPhysicalCol]]). */
  private[sources] def toPhysical(df: DataFrame, m: Manifest): DataFrame =
    if (m.colmap.isEmpty && m.dropped.isEmpty) df
    else {
      val tainted = m.taintedPhys
      df.select(df.schema.fields.toSeq.map { f =>
        val c = f.name
        val body = toPhysicalCol(m, col(c), f.dataType, c)
        m.colmap.get(c) match {
          case Some(p) => body.as(p)
          case None =>
            if (tainted(c) && !c.startsWith("__")) sys.error(
              s"column '$c' collides with a renamed/dropped physical " +
                "column; re-add it via ALTER TABLE ADD COLUMNS")
            body.as(c)
        }
      }: _*)
    }

  /** The table's generated-column definitions, (name, expr SQL),
    * name-sorted (a generated column referencing an earlier-sorted one
    * sees its computed value). */
  private[graft] def generatedCols(m: Manifest): Seq[(String, String)] =
    m.props.toSeq.collect {
      case (k, v) if k.startsWith(GenColPrefix) =>
        k.stripPrefix(GenColPrefix) -> v
    }.sortBy(_._1)

  /** Enforce-and-compute GENERATED columns on an incoming batch (see
    * [[GenColPrefix]]): provided non-null values must equal the
    * expression (one aggregation pass, delete markers exempt, fail
    * all-or-nothing); missing columns and NULL slots compute. Delete
    * markers keep a PROVIDED value untouched — a CDC 'D' row's
    * partition value routes the delete and must not be recomputed from
    * a possibly-garbage payload. When the batch lacks the column
    * entirely, the expression computes for delete markers too: the
    * payload is then the only routing source (NULLing the slot instead
    * would route a generated-partition delete to the null partition,
    * where it silently deletes nothing). */
  private[sources] def applyGenerated(
      df: DataFrame, m: Manifest, opCol: Option[String] = None): DataFrame = {
    val gens = generatedCols(m)
    if (gens.isEmpty) return df
    val isDel: Column =
      opCol.map(oc => upper(col(oc)) === "D").getOrElse(lit(false))
    val provided = gens.filter { case (c, _) =>
      df.columns.exists(_.equalsIgnoreCase(c)) }
    if (provided.nonEmpty) {
      val aggs = provided.map { case (c, sql) =>
        sum(when(!isDel && col(c).isNotNull && !(col(c) <=> expr(sql)), 1L)
          .otherwise(0L)).as(s"__g_$c")
      }
      val row = df.agg(aggs.head, aggs.tail: _*).head
      provided.zipWithIndex.foreach { case ((c, sql), i) =>
        val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
        if (bad > 0) sys.error(
          s"GENERATED column $c: $bad row(s) provide a value that " +
            s"differs from ($sql)")
      }
    }
    gens.foldLeft(df) { case (acc, (c, sql)) =>
      if (acc.columns.exists(_.equalsIgnoreCase(c)))
        acc.withColumn(c, when(isDel, col(c)).otherwise(coalesce(col(c), expr(sql))))
      else acc.withColumn(c, expr(sql))
    }
  }

  /** Ensure every declared IDENTITY column exists in the batch (added
    * as typed NULLs when absent) — run ONCE, before the optimistic
    * loop, so the batch schema (and with it schema evolution) is
    * stable across retries; the per-attempt [[applyIdentity]] then
    * only fills slots. */
  private[sources] def withIdentitySlots(df: DataFrame, m: Manifest): DataFrame =
    m.identityCols.foldLeft(df) { case (acc, (c, _)) =>
      if (acc.columns.exists(_.equalsIgnoreCase(c))) acc
      else acc.withColumn(c, lit(null).cast(
        m.schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
          .map(_.dataType).getOrElse(org.apache.spark.sql.types.LongType)))
    }

  /** Allocate IDENTITY values for the batch against manifest `m`'s
    * high-water marks (see [[IdentityPrefix]]). Returns the filled
    * frame plus the high-water property updates the caller must fold
    * into the SAME commit. `enforceAlways = true` (append paths)
    * rejects any provided non-null value — Delta's GENERATED ALWAYS;
    * merge paths pass false and keep provided values (an update arm
    * carries the table's own id).
    *
    * Scale: one tiny counting aggregation (≤ 64 shard rows collected)
    * sizes the allocation; the assignment itself is a row_number over
    * data-derived shards — never a single-partition window, never a
    * data collect. Shards are derived from the row payload (xxhash64
    * of all columns), so the counting job and the assignment job agree
    * on shard membership regardless of physical partitioning. */
  private def applyIdentity(
      df: DataFrame, m: Manifest,
      enforceAlways: Boolean): (DataFrame, Map[String, String]) = {
    val idents = m.identityCols.filter { case (c, _) =>
      df.columns.exists(_.equalsIgnoreCase(c)) }
    if (idents.isEmpty) return (df, Map.empty)
    var acc = df
    val hwUpd = scala.collection.mutable.Map[String, String]()
    idents.foreach { case (c, (start, step)) =>
      val hw = m.identityHighWater(c, start, step)
      val dt = acc.schema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType
      val withS = acc
        .withColumn("__idh", xxhash64(struct(acc.columns.map(col): _*)))
        .withColumn("__idshard", pmod(col("__idh"), lit(64L)))
      val nulls = withS.filter(col(c).isNull)
      // ONE pass sizes the allocation AND validates ALWAYS (provided
      // non-null count rides the same aggregation — no second source
      // execution, which a non-deterministic source could also dodge)
      val sized = withS.groupBy(col("__idshard"))
        .agg(sum(when(col(c).isNull, 1L).otherwise(0L)).as("__nn"),
          sum(when(col(c).isNotNull, 1L).otherwise(0L)).as("__pv"))
        .collect()
      if (enforceAlways && !m.identityAllowsExplicit(c) &&
          sized.map(_.getLong(2)).sum > 0)
        sys.error(s"IDENTITY column $c is GENERATED ALWAYS — remove it " +
          "from the insert (values are allocated by the table)")
      val counts = sized.map(r => r.getLong(0) -> r.getLong(1))
        .filter(_._2 > 0).sortBy(_._1)
      val total = counts.map(_._2).sum
      if (total > 0) {
        var off = 0L
        val offsets: Map[Long, Long] = counts.map { case (sh, n) =>
          val o = off; off += n; sh -> o
        }.toMap
        // row_number is unique within the shard whatever the tie
        // order — the hash ordering just has to be DETERMINISTIC for
        // the window to analyze
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__idshard")).orderBy(col("__idh"))
        val assigned = nulls
          .withColumn("__idrn", row_number().over(w).cast("long"))
          .withColumn(c,
            (lit(hw) + lit(step) *
              (element_at(typedLit(offsets), col("__idshard")) +
                col("__idrn"))).cast(dt))
          .drop("__idrn")
        acc = withS.filter(col(c).isNotNull).unionByName(assigned)
          .drop("__idshard", "__idh")
        hwUpd(IdentityHighWaterPrefix + c) = (hw + step * total).toString
      } else acc = withS.drop("__idshard", "__idh")
    }
    (acc, hwUpd.toMap)
  }

  /** Conform a USER BATCH column `src` ([[replaceWhere]] and the
    * surfaces routing through it) to `target`: leaf types cast, STRUCT
    * fields matched by name (case-insensitive) with MISSING subfields
    * filled as typed NULLs (a plain `cast` refuses struct shapes of
    * different arity); arrays of structs conform element-wise; source
    * nullness is preserved. A SOURCE struct field absent from the
    * target errors loudly instead of silently discarding its data —
    * missing-tolerance (NULL backfill) is the evolution feature,
    * extra-tolerance would be silent data loss (Delta's schema
    * enforcement refuses the same batch without mergeSchema). Reads of
    * the table's own files need no conform: the scan is typed by the
    * manifest's schema. */
  private def conform(
      src: Column,
      srcType: org.apache.spark.sql.types.DataType,
      target: org.apache.spark.sql.types.DataType,
      path: String): Column = {
    import org.apache.spark.sql.types.{ArrayType, DataType}
    (srcType, target) match {
      case (a, b) if DataType.equalsIgnoreNullability(a, b) => src
      case (s: StructType, t: StructType) =>
        val extra = s.fields.map(_.name).toSeq.filterNot(n =>
          t.fields.exists(_.name.equalsIgnoreCase(n)))
        if (extra.nonEmpty) sys.error(
          s"batch carries struct field(s) ${extra.mkString(", ")} at " +
            s"'$path' that do not exist " +
            "in the target schema — refusing to silently discard their " +
            "data (ALTER TABLE to add the field first; missing target " +
            "fields still backfill NULL)")
        val fields = t.fields.toSeq.map { tf =>
          s.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
            case Some(sf) =>
              conform(src.getField(sf.name), sf.dataType, tf.dataType,
                s"$path${tf.name}.").as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }
        when(src.isNull, lit(null).cast(t)).otherwise(struct(fields: _*))
      case (ArrayType(se, _), ArrayType(te, _)) =>
        transform(src, x => conform(x, se, te, path + "[]."))
      case (_, t) => src.cast(t)
    }
  }

  /** A user batch conformed column by column to `to` ([[conform]]);
    * columns the batch lacks backfill NULL. */
  private def alignBatch(df: DataFrame, to: StructType): DataFrame =
    df.select(to.fields.toSeq.map { f =>
      df.schema.fields.find(_.name == f.name) match {
        case Some(sf) => conform(col(f.name), sf.dataType, f.dataType,
          f.name + ".").as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)

  /** Inverse of [[toPhysical]] on a scanned frame: physical parquet
    * names back to the logical schema's names. Non-mapped columns
    * (including scan bookkeeping like `__f`/`__pos`) pass through.
    * NESTED mappings/tombstones rebuild the struct ([[toLogicalCol]]). */
  private[sources] def toLogical(df: DataFrame, m: Manifest): DataFrame =
    if (m.colmap.isEmpty && m.dropped.isEmpty) df
    else {
      val inv = m.colmap.collect {
        case (k, v) if !k.contains('.') => (v, k) }
      // a TOMBSTONED physical slot must not surface under its old name:
      // downstream schema alignment matches by name, and a re-added
      // logical column of that name would silently adopt the dropped
      // bytes (resurrection) — dropping the slot here is what makes
      // DROP COLUMN semantically a delete, not a hide
      val cols = df.schema.fields.toSeq.flatMap { f =>
        val c = f.name
        inv.get(c) match {
          case Some(l) =>
            Some(toLogicalCol(m, col(c), f.dataType, l, c).as(l))
          case None if m.dropped(c) => None
          case None =>
            Some(toLogicalCol(m, col(c), f.dataType, c, c).as(c))
        }
      }
      df.select(cols: _*)
    }

  /** The manifest's logical schema with every field (nested included)
    * renamed to its physical parquet name — what the file scan itself
    * must use. */
  private[sources] def physSchema(
      m: Manifest,
      sc: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    if (m.colmap.isEmpty) sc
    else org.apache.spark.sql.types.StructType(
      sc.fields.map(f => f.copy(name = m.phys(f.name),
        dataType = physTypeOf(m, f.dataType, f.name))))

  /** Test seam: runs inside [[upsertBatch]] after a merge is staged,
    * immediately before each commit attempt — the only window where a
    * concurrent committer can invalidate staged output. Deterministic
    * race regressions (ConcurrencyStressSpec) interleave a commit here;
    * production leaves it a no-op. */
  private[sources] var onBeforeUpsertCommit: () => Unit = () => ()

  /** Test seam: runs inside [[optimizeTable]] immediately before each
    * commit attempt — the window where a concurrent committer forces
    * the conflict-narrowed retry. Production leaves it a no-op. */
  private[sources] var onBeforeOptimizeCommit: () => Unit = () => ()

  /** A data file's row count: manifest stats when present, else one
    * parquet footer read (the fallback that makes enabling row
    * tracking on a stats-less table possible — O(new files) driver
    * RPCs at commit time, never a Spark job). */
  private[graft] def rowCountOf(fs: FileSystem, base: Path, m: Manifest, f: String): Long =
    m.stats.get(f).flatMap(_.get(RowCountKey)).flatMap(_._1.toLongOption)
      .getOrElse {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(base, f), fs.getConf))
        try rd.getRecordCount finally rd.close()
      }

  /** Row-tracking allocation, run INSIDE the commit (the single choke
    * point every writer funnels through): every live file without a
    * [[BaseRowIdKey]] gets one, in sorted-path order, from the
    * table's high water — deterministic, and race-safe because the
    * allocation only exists in the manifest that wins the
    * create-exclusive below (a loser's allocation dies with its
    * manifest; the retry re-reads the winner's high water). */
  private def allocateRowBases(fs: FileSystem, base: Path, m: Manifest): Manifest = {
    if (!m.rowTracking) return m
    val missing = m.allFiles
      .filterNot(f => m.stats.get(f).exists(_.contains(BaseRowIdKey)))
      .sorted
    if (missing.isEmpty) return m
    var hw = m.props.get(RowIdHighWaterProp).flatMap(_.toLongOption).getOrElse(0L)
    val enriched = missing.foldLeft(m.stats) { (st, f) =>
      val b = hw
      hw += math.max(rowCountOf(fs, base, m, f), 0L)
      st.updated(f,
        st.getOrElse(f, Map.empty) + (BaseRowIdKey -> (b.toString, b.toString)))
    }
    m.copy(stats = enriched, props = m.props + (RowIdHighWaterProp -> hw.toString))
  }

  /** Features the manifest's CONTENT requires of readers/writers —
    * derived fresh on every commit (a table whose last DV was
    * materialized away no longer needs the feature), never trusted
    * from the caller. */
  private def requiredFeatures(m: Manifest): (Set[String], Set[String]) = {
    val reader =
      (if (m.dvs.nonEmpty) Set("deletionVectors") else Set.empty[String]) ++
        (if (m.colmap.nonEmpty || m.dropped.nonEmpty) Set("columnMapping")
         else Set.empty[String]) ++
        // mixed-layout manifests gate READERS too: an evolution-unaware
        // reader would decompose legacy keys under the current layout
        // and silently mis-prune (tryCommit prunes stale tags first, so
        // presence of any tag means live legacy keys)
        (if (m.props.keysIterator.exists(_.startsWith(KeySpecPrefix)))
          Set("partitionEvolution") else Set.empty[String])
    val writer = reader ++
      (if (m.rowTracking) Set("rowTracking") else Set.empty[String]) ++
      (if (m.constraints.nonEmpty) Set("checkConstraints") else Set.empty[String]) ++
      (if (m.identityCols.nonEmpty) Set("identityColumns") else Set.empty[String]) ++
      (if (m.props.keys.exists(_.startsWith(GenColPrefix)))
        Set("generatedColumns") else Set.empty[String]) ++
      (if (m.cdfEnabled) Set("changeDataFeed") else Set.empty[String]) ++
      (if (m.bucketSpec.isDefined) Set("bucketing") else Set.empty[String])
    (reader, writer)
  }

  /** Global commit-race telemetry: every [[tryCommit]] call counts an
    * attempt; every create-exclusive win counts a win. `attempts −
    * wins` across a window = commit races lost (each of which the
    * optimistic writers retried) — the number the multi-writer soak
    * records. Process-wide and monotone; readers take deltas. */
  val commitAttempts = new java.util.concurrent.atomic.AtomicLong(0L)
  val commitWins = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Atomically publish `m` as version `m.version` by CREATE-EXCLUSIVE
    * on the final name. Returns false when that version already exists —
    * the optimistic-concurrency conflict signal.
    *
    * Why not temp-write + rename: Hadoop's `RawLocalFileSystem.rename`
    * delegates to POSIX rename, which silently REPLACES an existing
    * target, so two same-version committers could both "succeed" with
    * one manifest clobbering the other. An exclusive create is atomic
    * where it matters: O_EXCL via NIO on the local FS, the namenode's
    * atomic create on HDFS, conditional PUT (If-None-Match) on modern
    * object stores. The claimed file only becomes a COMMIT once its
    * `#eof` footer line is written — readers treat a footer-less manifest
    * as absent, so the claim-then-write gap is invisible. */
  def tryCommit(fs: FileSystem, base: Path, m00: Manifest): Boolean = {
    // every committed manifest carries its schema and each live file's
    // byte length: readers plan from them and never touch data files
    if (m00.schemaJson.isEmpty) throw new ProtocolException(
      s"$base v${m00.version}: refusing to commit a manifest without a schema")
    m00.allFiles.find(f => !m00.stats.get(f).exists(_.contains(ByteSizeKey)))
      .foreach(f => throw new ProtocolException(
        s"$base v${m00.version}: refusing to commit $f without its byte length"))
    commitAttempts.incrementAndGet()
    // partition-evolution hygiene: a layout tag whose key left the
    // manifest (the partition migrated to the current layout, was
    // deleted, or the table was overwritten) is dead weight AND would
    // keep demanding the reader feature — prune here, the single
    // commit gate, so every committed manifest's tags are exactly its
    // live legacy keys. (Safe: every commit path builds from a FULL
    // manifest read — partition-pruned reads never feed commits.)
    val m0 = {
      val stale = m00.props.keysIterator
        .filter(_.startsWith(KeySpecPrefix))
        .filter(k => !m00.files.contains(k.stripPrefix(KeySpecPrefix)))
        .toSeq
      if (stale.isEmpty) m00 else m00.copy(props = m00.props -- stale)
    }
    // ONE read of the previous committed root per attempt feeds the
    // writer-side protocol gate, shard/group/watermark reuse and the
    // in-commit timestamp floor. The gate reads the root from disk so
    // it cannot be lost through a caller's positional Manifest
    // construction: committing onto a table that requires a writer (or
    // reader) feature this engine lacks would corrupt invariants it
    // cannot see
    val prev = rootBelow(fs, base, m0.version)
    prev.foreach { r =>
      val missing = (r.writerFeatures -- SupportedWriterFeatures) ++
        (r.readerFeatures -- SupportedReaderFeatures)
      if (missing.nonEmpty) throw new ProtocolException(
        s"$base requires feature(s) this engine cannot write: " +
          s"${missing.toSeq.sorted.mkString(", ")} — refusing to commit " +
          "rather than corrupt state the features protect")
    }
    val m = allocateRowBases(fs, base, m0)
    val dir = logDir(base)
    fs.mkdirs(dir)
    val target = new Path(dir, vName(m.version))
    if (fs.exists(target)) return false
    val (needR, needW) = requiredFeatures(m)
    val text = ManifestCodec.encode(fs, base, m, needR, needW, prev)
    // Store contract: this protocol needs atomic create-exclusive
    // publication, which local FS (link(2)) and HDFS (rename) provide.
    // Raw S3 provides neither — Delta needs an external LogStore
    // (DynamoDB) there for exactly the same reason; running this
    // format on S3 without a coordination layer gives last-writer-wins
    // on the root, the documented limitation of every
    // filesystem-arbitrated commit log.
    // ATOMIC publication: the root must be COMPLETE-OR-ABSENT the
    // instant its name exists. The previous protocol (create-exclusive
    // claim, then stream the text) exposed incomplete claims, and the
    // "allocate past an in-flight claim" liveness rule then let a fast
    // writer commit v+k built from base v while the claimant of v+1
    // was still writing — when that claimant finished, its commit was
    // silently superseded (a LOST BATCH; the 30× multi-writer soak
    // caught exactly this, one batch in 6.9M rows). Writing the full
    // text to a hidden temp and publishing by hard LINK (local FS:
    // link(2) is atomic create-exclusive WITH content) or rename
    // (HDFS: atomic, false when the target exists) makes every visible
    // root complete, so version allocation can never skip a live
    // writer — only crashed writers leave .tmp orphans, which block
    // nothing (currentVersion counts only v*.txt names).
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    val tmp = new Path(dir,
      s".tmp-${vName(m.version)}-${java.util.UUID.randomUUID.toString.take(8)}")
    val won: Boolean =
      if (fs.getUri.getScheme == "file") {
        val tmpNio = java.nio.file.Paths.get(
          fs.makeQualified(tmp).toUri.getPath)
        val targetNio = java.nio.file.Paths.get(
          fs.makeQualified(target).toUri.getPath)
        java.nio.file.Files.write(tmpNio, bytes)
        val ok =
          try { java.nio.file.Files.createLink(targetNio, tmpNio); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            case _: UnsupportedOperationException =>
              // exotic local FS without hard links: ATOMIC_MOVE would
              // REPLACE an existing target (rename(2)), so re-check +
              // move — the race window returns but only on filesystems
              // the linking path cannot serve
              if (java.nio.file.Files.exists(targetNio)) false
              else {
                try {
                  java.nio.file.Files.move(tmpNio, targetNio,
                    java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                  true
                } catch { case _: Exception => false }
              }
          }
        java.nio.file.Files.deleteIfExists(tmpNio)
        ok
      } else {
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        val ok = !fs.exists(target) && fs.rename(tmp, target)
        if (!ok) fs.delete(tmp, false)
        ok
      }
    if (won) {
      commitWins.incrementAndGet()
      // O(1)-resolution hint; best-effort (see writeLatestHint)
      writeLatestHint(fs, base, m.version)
    }
    won
  }

  /** What one [[commitLoop]] attempt decided: [[Done]] ends the loop
    * without a commit (a no-op or an early answer); [[Publish]] offers
    * `next` as the attempt's version and, once it wins, runs `after`
    * with that version (where a writer materializes its change feed). */
  private[sources] sealed trait Attempt[+A]
  private[sources] final case class Done[A](result: A) extends Attempt[A]
  private[sources] final case class Publish[A](next: Manifest, after: Long => A)
    extends Attempt[A]

  /** The optimistic commit protocol every retrying writer runs: read
    * the base manifest, claim `base + 1` ([[nextVersion]]), let `body`
    * decide against (base, version, attempt number), publish through
    * [[tryCommit]], and on a lost race start over from a fresh read —
    * at most `maxRetries` attempts, then `IllegalStateException`.
    *
    * `first` is a base the caller already read: attempt 0 uses it
    * instead of reading again. That is safe because the base+1 claim
    * enforces freshness — if anything committed since that read, the
    * claimed version exists and the attempt loses like any other race.
    * State that must survive a retry (staged output and the base it was
    * staged against) lives in the caller's closure. */
  private[sources] def commitLoop[A](
      fs: FileSystem, bp: Path, op: String, maxRetries: Int,
      first: Option[Manifest] = None)(
      body: (Option[Manifest], Long, Int) => Attempt[A]): A = {
    @annotation.tailrec
    def from(attempt: Int): A =
      if (attempt < maxRetries) {
        val base = if (attempt == 0 && first.isDefined) first else readManifest(fs, bp)
        val version = nextVersion(fs, bp, base.fold(0L)(_.version))
        body(base, version, attempt) match {
          case Done(a) => a
          case Publish(next, after) =>
            if (tryCommit(fs, bp, next.copy(version = version))) after(version)
            else from(attempt + 1)
        }
      } else throw new IllegalStateException(s"$op lost $maxRetries commit races on $bp")
    from(0)
  }

  /** [[commitLoop]] for a commit that needs a committed table: `body`
    * gets the base manifest, and a missing table fails. */
  private def commitExisting[A](
      fs: FileSystem, bp: Path, op: String, maxRetries: Int,
      first: Option[Manifest] = None)(
      body: (Manifest, Long, Int) => Attempt[A]): A =
    commitLoop(fs, bp, op, maxRetries, first) { (base, version, attempt) =>
      body(base.getOrElse(sys.error(s"$bp has no committed version")),
        version, attempt)
    }

  /** Read the current snapshot (empty table → empty result needs a
    * schema, so callers with no committed version must handle None).
    *
    * THE unified read path: routed through the planner-integrated
    * [[SnapshotRelation]], so a plain `.filter(...)` on the result gets
    * manifest stats/bloom/partition file-skipping inside Spark's own
    * planning, and — since the manifest carries schema + file sizes —
    * planning touches ZERO data files. Deletion vectors are applied
    * in the relation wrapper.
    * `partCol` (when the caller knows it) additionally lets partition
    * predicates prune via the manifest's partition values. */
  def read(
      spark: SparkSession, base: String,
      partCol: Option[String] = None): Option[DataFrame] = {
    val bp = new Path(base)
    readManifest(fsFor(spark, bp), bp).map(m =>
      readSnapshot(spark, bp, m, partCol))
  }

  /** One manifest → its DataFrame. Empty table (all partitions
    * deleted) still answers with the manifest-held schema. */
  private[sources] def readSnapshot(
      spark: SparkSession, bp: Path, m: Manifest,
      partCol: Option[String]): DataFrame =
    if (m.allFiles.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema.get)
    else SnapshotRelation.fromManifest(spark, bp, m, partCol)._1

  /** Apply `m`'s deletion vectors to a raw scan of `files` from it
    * ([[overScan]]). No-DV case returns the scan untouched. */
  private def applyDvs(
      spark: SparkSession, bp: Path, m: Manifest,
      files: Seq[String], raw: DataFrame): DataFrame =
    dvRows(spark, bp, m, files) match {
      case None => raw
      case Some((dv, allInline)) =>
        val cols = raw.columns.toSeq
        // a row-tracking attach upstream already materialized the
        // (file, position) pair — and its join made `_metadata`
        // unreachable — so reuse its columns when present
        val keyed =
          if (raw.columns.contains("__rt_file"))
            raw.withColumn("__dv_file", col("__rt_file"))
              .withColumn("__dv_pos", col("__rt_pos"))
          else raw.withColumn("__dv_file", dvKeyCol)
            .withColumn("__dv_pos", col("_metadata.row_index"))
        keyed
          .join(if (allInline) broadcast(dv) else dv,
            Seq("__dv_file", "__dv_pos"), "left_anti")
          .select(cols.map(col): _*)
    }

  /** Manifest-pruned read: only the files of the named partitions are
    * ever handed to Spark. */
  def readPartitions(
      spark: SparkSession, base: String, parts: Seq[String]): Option[DataFrame] = {
    val bp = new Path(base)
    val pset = parts.toSet
    // pruned manifest load: on a sharded table only the named
    // partitions' shard files are ever opened
    readManifest(fsFor(spark, bp), bp, Some(pset.contains)).map { m =>
      val files = parts.flatMap(p => m.files.getOrElse(p, Nil))
      if (files.isEmpty) None
      else Some(readFiles(spark, bp, m, files))
    }.flatten
  }

  /** MERGE a change batch into the table on `key` (latest `orderCol`
    * wins within the batch), rewriting ONLY the partitions the change
    * keys touch, then committing a new manifest. Safe to replay: the
    * merge is idempotent per key and a lost commit race re-reads and
    * retries against the winner's state. */
  def upsertBatch(
      spark: SparkSession,
      base: String,
      changes0: DataFrame,
      key: String,
      orderCol: String,
      partCol: String,
      batchId: Long): Unit =
    upsertBatch(spark, base, changes0, Seq(key), orderCol, partCol, batchId)

  /** Composite-key, stats-recording MERGE into the commit log.
    *
    * Jobs per batch are O(1), NOT O(affected partitions): the merge
    * result is written once with `partitionBy`, staged under a dir
    * unique to this attempt, and the staged layout is then LISTED (no
    * second scan) to build the manifest entries. When `statsCols` is
    * non-empty, one extra job over just the staged files records
    * per-file min/max bounds in the manifest — the footer stats a real
    * table format lifts into metadata so value predicates can prune
    * files at plan time ([[filesForRange]]/[[readRange]]).
    *
    * A lost commit race retries METADATA-ONLY when possible: staged
    * data stays valid as long as the race winner didn't touch this
    * batch's partitions, so the retry is a manifest read + compare +
    * commit, not a data rewrite. Only when the winner rewrote an
    * affected partition is the merge recomputed (against the winner's
    * files); the abandoned staged dir is never referenced and vacuum
    * reclaims it.
    *
    * `extraAffected`: partition values to include in the rewrite even
    * when no change row lands in them. The partition-MOVE primitive:
    * when a merged key's partition value changes (p1 → p2), the change
    * row itself only touches p2 — naming p1 here makes its rows part of
    * the merge base, so the full-outer key match replaces the old row
    * and the staged write re-lands it in p2, leaving p1 rewritten
    * without it (one transaction, no duplicate key). Cost is O(extra
    * partitions' data), exactly the rows a move must rewrite anyway.
    *
    * `txn = Some((appId, batchId))`: the write is IDEMPOTENT per
    * (appId, batchId) — if the live manifest already records this appId
    * at a batch ≥ this one, the call is a no-op (checked inside the
    * commit loop, so a concurrent duplicate writer cannot double-commit
    * either). The streaming-sink contract. */
  def upsertBatch(
      spark: SparkSession,
      base: String,
      changes0: DataFrame,
      keys: Seq[String],
      orderCol: String,
      partCol: String,
      batchId: Long,
      maxRetries: Int = 5,
      statsCols: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      clusterFiles: Int = 16,
      opCol: Option[String] = None,
      writeCdf: Boolean = false,
      extraAffected: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Unit = {
    // `opCol`: when set, the batch is a FULL CDC stream — that column
    // carries op ∈ {U, D} and D rows delete their key from the table
    // ([[graft.operators.MergeUpsert.cdc]] semantics, absent-key
    // deletes no-ops). A partition whose rows are all deleted vanishes
    // from the manifest entirely.
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    // table-level CDF (the graft.enableChangeDataFeed property) OR the
    // caller's explicit writeCdf — either turns the feed on; the same
    // manifest read also feeds generated-column handling
    val m0 = readManifest(fs, bp)
    val cdfOn = writeCdf || m0.exists(_.cdfEnabled)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(desc(orderCol))
    // generated columns compute/validate on the raw batch, BEFORE the
    // latest-wins window (orderCol may itself be generated) and before
    // the affected-partition collect (partCol may be generated)
    // identity on the partition column would need allocation BEFORE
    // partition routing; the merge path routes first — refuse rather
    // than route rows to the null partition
    m0.foreach(mm => require(
      !mm.identityCols.exists(ic => partColsOf(partCol)
        .exists(_.equalsIgnoreCase(ic._1))),
      s"IDENTITY on partition column $partCol is not supported on the " +
        "merge path (append paths allocate before routing)"))
    val changes0g = m0.map(mm => storeAssign(
      withIdentitySlots(applyGenerated(changes0, mm, opCol), mm), mm))
      .getOrElse(changes0)
    val changes = changes0g
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .persist()
    val affected = (changes.select(partRoute(partCol)).distinct()
      .collect().map(_.getString(0)) ++ extraAffected).distinct.sorted
    // the table's live schema: the change stream's columns minus the
    // op column (which never lands in data files)
    val targetFields = changes.schema.fields.toSeq
      .filterNot(f => opCol.contains(f.name))

    // the affected partitions' file lists the staged data was merged
    // against — while the live manifest still agrees on them, the
    // staged files remain valid and a conflict retry is metadata-only
    // staged output is also invalidated when the COLUMN MAPPING moved
    // under us (a racing RENAME/DROP COLUMN): staged files were renamed
    // logical→physical with the mapping read at staging time, and
    // committing them under a changed mapping could resurrect a
    // concurrently-dropped column through schema evolution.
    // The key also carries the affected files' DELETION VECTORS: a
    // concurrent merge-on-read delete changes no file list, but the
    // staged merge read THROUGH the old DV state — committing it would
    // drop the racer's DVs with the replaced files and resurrect the
    // rows it deleted
    var mergedAgainst: Option[(Map[String, Seq[String]],
      Map[String, String], Set[String], Map[String, String],
      Map[String, Dv])] = None
    var stagedHwU: Map[String, String] = Map.empty
    var staged: Option[Rewrite] = None
    // (pre, post) state of the AFFECTED partitions only — the change
    // feed derives from these, never from a full-table diff
    var cdfPair: Option[(DataFrame, DataFrame)] = None
    try commitLoop(fs, bp, "UPSERT", maxRetries, m0) { (snap, version, attempt) =>
      val m = snap.getOrElse(Manifest(0L, Map.empty))
      requireCurrentLayout(m, partCol)
      // exactly-once gate: a replayed (appId, batchId) is already in
      // the table — nothing to do. Re-checked on EVERY retry, so a
      // concurrent duplicate writer that wins the commit race makes
      // this attempt a no-op instead of a double-apply; any files
      // this attempt staged are unreferenced orphans, vacuum's job.
      if (txn.exists { case (a, b) => m.txns.get(a).exists(_ >= b) }) Done(())
      else {
        // CHECK constraints gate the batch up front (delete markers
        // exempt: a CDC 'D' row's payload never lands in the table)
        if (attempt == 0)
          enforceConstraints(
            opCol.map(oc => changes.filter(upper(col(oc)) =!= "D"))
              .getOrElse(changes), m, base)
        // mixed layout (partition evolution): rows with matching merge
        // keys may live in ANY legacy partition (their keys there are
        // unknowable from the change batch) — fold every legacy key
        // into the affected set; the rewrite restages those rows under
        // the current layout, migrating the partitions as a side effect
        val affectedAll: Seq[String] =
          if (m.legacyKeys.isEmpty) affected.toSeq
          else (affected ++ m.legacyKeys).distinct.sorted.toSeq
        val affectedState: Map[String, Seq[String]] =
          affectedAll.iterator.map(p => p -> m.files.getOrElse(p, Nil)).toMap
        val identSnap =
          m.props.filter(_._1.startsWith(IdentityHighWaterPrefix))
        val dvSnap: Map[String, Dv] = {
          val fls = affectedAll.flatMap(p => m.files.getOrElse(p, Nil)).toSet
          m.dvs.filter { case (f, _) => fls(f) }
        }
        if (!mergedAgainst.contains(
            (affectedState, m.colmap, m.dropped, identSnap, dvSnap))) {
          val relFiles = affectedAll.flatMap(p => m.files.getOrElse(p, Nil)).toSeq
          // row-tracked tables preserve ids BY KEY through the merge:
          // the affected rows' ids ride a (keys → id) side frame and
          // re-attach to the merge output as the materialized column —
          // an UPDATE keeps its row's identity (even across a
          // partition move); INSERTs stay null and allocate fresh at
          // commit. Kept OUT of baseSubset so the CDF pre/post schemas
          // stay identical.
          val baseIds: Option[DataFrame] =
            if (!m.rowTracking || relFiles.isEmpty) None
            else Some(readFiles(spark, bp, m, relFiles, rowIds = true)
              .select(keys.map(col) :+ col(RowIdCol).as(MatRowIdCol): _*))
          val baseSubset = {
            if (relFiles.isEmpty)
              changes.limit(0).select(targetFields.map(f => col(f.name)): _*)
            else {
              // align to the change batch's schema: columns the old files
              // lack backfill NULL (add-column evolution), columns the batch
              // dropped disappear (the change stream defines the live schema)
              val df = readFiles(spark, bp, m, relFiles)
              val have = df.columns.toSet
              df.select(targetFields.map { f =>
                if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
                else lit(null).cast(f.dataType).as(f.name)
              }: _*)
            }
          }
          // identity NULL slots allocate against THIS attempt's
          // high-water, before the merge so merged rows carry ids;
          // provided (non-null) values pass through — a merge update
          // arm carries the table's own id
          val (changesId, hwUpd) =
            applyIdentity(changes, m, enforceAlways = false)
          stagedHwU = hwUpd
          val merged0 = (opCol match {
            case None => graft.operators.MergeUpsert(baseSubset, changesId, keys)
            case Some(oc) => graft.operators.MergeUpsert.cdc(baseSubset, changesId, keys, oc)
          }).drop("merge_action")
          val merged = baseIds match {
            case None => merged0
            case Some(ids) => merged0.join(ids, keys, "left")
          }
          // Staged layout, by table kind: a plain table rebalances by
          // partition value (below), a bucketed one is routed by its
          // bucket columns in [[stagePartitioned]], and `clusterBy`
          // range-clusters the staged write (z-order for multi-key) so
          // each file covers a tight key range — the layout that makes
          // the recorded `statsCols` bounds actually selective at read
          // ([[filesForRange]]). Files still accrue across commits;
          // [[optimizeTable]] folds them down.
          val toWrite0 = merged.withColumn("__p", partRoute(partCol))
          // range clustering and bucketing both dictate the file
          // layout — they cannot compose (a range-routed file spans
          // buckets, breaking the bucketed scan's file↔bucket map)
          require(clusterBy.isEmpty || m.bucketSpec.isEmpty,
            "clusterBy/ZORDER is incompatible with a bucketed table")
          val toWrite =
            // Plain merge path (no clusterBy layout, no per-file stats):
            // REBALANCE by the partition value before the write (guide
            // §6). Unhinted, the merge's shuffle-partition distribution
            // fans out as (tasks × partition values) files — q76's
            // 25-value table staged ~800 ≈20-row files per commit, each
            // listed and re-read by the NEXT commit. AQE's rebalance
            // coalesces small partition values to one file and splits
            // large ones at the advisory size, so local commits stop
            // churning tiny files and at-scale files land in the
            // 64MB–1GB band. Stats/cluster layouts are left exactly as
            // routed — file-skip-graded tables keep their geometry — and
            // a bucketed table skips the hint: stagePartitioned
            // repartitions by the bucket columns anyway, so a rebalance
            // would be one more full shuffle of the staged rows.
            if (clusterBy.isEmpty && statsCols.isEmpty && m.bucketSpec.isEmpty)
              toWrite0.hint("rebalance", col("__p"))
            else if (clusterBy.isEmpty) toWrite0
            else Clustering.rangeCluster(toWrite0, clusterBy, clusterFiles)
          // the rewrite reads the affected partitions' files (through
          // their DVs); the staged files replace them
          val r = stageRewrite(spark, fs, bp, m, toWrite, relFiles,
            s"b${batchId}v", version, attempt, statsCols.map(m.phys))
          if (cdfOn) {
            // post-state re-read from the immutable staged files (not
            // the merge plan, which would re-run the join on feed write)
            val post = toLogical(SnapshotRelation.scanFiles(spark, bp, m,
              lengths(r.staged), r.schema), m)
              .select(targetFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
            cdfPair = Some((baseSubset, post))
          }
          staged = Some(r)
          mergedAgainst = Some(
            (affectedState, m.colmap, m.dropped, identSnap, dvSnap))
        }
        val next = staged.get
          .onto(m, partCol, version, if (opCol.isDefined) "CDC" else "UPSERT")
          .copy(
            schemaJson = Some(evolveSchema(m.schemaJson,
              org.apache.spark.sql.types.StructType(targetFields.toArray))),
            txns = m.txns ++ txn,
            props = m.props ++ genTzStamp(spark, m.props, partCol) ++ stagedHwU)
        onBeforeUpsertCommit()
        Publish(next, v =>
          if (cdfOn) cdfPair.foreach { case (pre, post) =>
            commitCdfVersion(fs, bp, v,
              changeFeed(pre, post, keys).withColumn("_commit_version", lit(v)))
          })
      }
    } finally changes.unpersist()
  }

  /** APPEND (or full OVERWRITE) a batch of rows as a new commit — the
    * `INSERT INTO` / `INSERT OVERWRITE` write primitive, the most
    * common table write there is. No merge, no key semantics: the rows
    * are staged once (`partitionBy` on the partition column) and the
    * manifest either gains the staged files alongside each partition's
    * existing ones (append) or is replaced wholesale by them
    * (overwrite = the reference's TRUNCATE+COPY full refresh,
    * `sql/ddl_staging.sql:40-43`). Existing files are never rewritten,
    * so their stats, blooms, and deletion vectors stay live on append;
    * overwrite drops all three with the files they described.
    *
    * Concurrency: staged data is valid against ANY base state (append
    * depends on nothing), so a lost commit race retries metadata-only —
    * re-read the winner's manifest, splice the same staged files in,
    * commit again. Returns the committed version. */
  def appendBatch(
      spark: SparkSession,
      base: String,
      rows: DataFrame,
      partCol: String,
      batchId: Long,
      overwrite: Boolean = false,
      maxRetries: Int = 5,
      txn: Option[(String, Long)] = None,
      txnsAdd: Map[String, Long] = Map.empty,
      writeCdf: Boolean = false,
      propsAdd: Map[String, String] = Map.empty,
      resetColumnState: Boolean = false): Long = {
    // resetColumnState (REPLACE TABLE semantics, only with overwrite):
    // the replaced snapshot's column-mapping state — renames and
    // tombstones — belongs to the OLD schema world; the new files
    // stage under identity mapping and the committed manifest starts
    // clean. Historical manifests keep their own colmap headers, so
    // time travel across the replace stays correct.
    require(!resetColumnState || overwrite,
      "resetColumnState is REPLACE semantics — requires overwrite")
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val m0 = readManifest(fs, bp)
    val cdfOn = writeCdf || m0.exists(_.cdfEnabled)
    // generated columns compute/validate up front (they may BE the
    // partition column) and widen the batch before schema evolution;
    // identity SLOTS are added here too (stable schema across
    // retries), but VALUES allocate inside the loop against each
    // attempt's high-water
    val rows1 = m0.map { mm =>
      val g = withIdentitySlots(applyGenerated(rows, mm), mm)
      if (overwrite) g else storeAssign(g, mm)
    }.getOrElse(rows)
    val fields = rows1.schema.fields.toSeq
    partColsOf(partCol).foreach(pc => require(
      fields.exists(_.name.equalsIgnoreCase(pc)),
      s"append batch lacks partition column $pc"))
    var staged: Option[Rewrite] = None
    // mapping under which `staged` was renamed logical→physical — a
    // racing RENAME/DROP COLUMN invalidates it (restage; the old
    // files become vacuum-reclaimable orphans). The IDENTITY
    // high-water snapshot is part of the key: a racing writer that
    // advanced it means our staged ids overlap the winner's — restage
    // with fresh ids.
    var stagedUnder:
      Option[(Map[String, String], Set[String], Map[String, String])] = None
    var stagedHw: Map[String, String] = Map.empty
    val allTxns = txnsAdd ++ txn
    commitLoop(fs, bp, if (overwrite) "OVERWRITE" else "APPEND", maxRetries, m0) {
        (snap, version, attempt) =>
      val m0Read = snap.getOrElse(Manifest(0L, Map.empty))
      // a REPLACE that explicitly redeclares the layout (propsAdd) is
      // the one legitimate way to write an evolved table under a
      // different partitioning — everything else must match
      if (!(resetColumnState && propsAdd.contains(PartColProp)))
        requireCurrentLayout(m0Read, partCol)
      val m = if (resetColumnState)
        m0Read.copy(colmap = Map.empty, dropped = Set.empty)
      else m0Read
      // exactly-once gate (see upsertBatch): a fully-replayed batch
      // reports the version that already holds it. With MULTIPLE
      // watermark keys (COPY INTO passes one per source file) a
      // PARTIAL overlap means a concurrent ingest absorbed part of
      // this batch — committing the staged data would duplicate that
      // part, so fail loudly and let the caller re-diff and restage.
      val satisfied =
        allTxns.count { case (a, b) => m.txns.get(a).exists(_ >= b) }
      if (satisfied > 0 && satisfied < allTxns.size) throw new PartialTxnConflict(
        s"$satisfied of ${allTxns.size} transaction keys already " +
          s"committed on $base — batch contents are stale; re-diff " +
          "against the live manifest and retry with the remainder")
      if (allTxns.nonEmpty && satisfied == allTxns.size) Done(m.version) else {
        if (attempt == 0) enforceConstraints(rows1, m, base)
        val identSnap = m.props.filter(_._1.startsWith(IdentityHighWaterPrefix))
        if (staged.isEmpty ||
            !stagedUnder.contains((m.colmap, m.dropped, identSnap))) {
          val (rows2, hwUpd) = applyIdentity(rows1, m, enforceAlways = true)
          stagedHw = hwUpd
          // REBALANCE by partition value before the write (guide §6, same
          // as the merge path): without it an append fans out as (source
          // tasks × partition values) files. Appends record no per-file
          // column stats (no statsCols parameter exists here), so no
          // pruning geometry is disturbed; identity values are
          // content-hash-sharded and partitioning-independent. Cross-batch
          // fragmentation still accrues (each append commits its own
          // files) — compaction keeps its job. Bucketed tables skip it:
          // stagePartitioned routes them by the bucket columns.
          val routed = rows2.withColumn("__p", partRoute(partCol))
          val r = stageRewrite(spark, fs, bp, m,
            if (m.bucketSpec.isEmpty) routed.hint("rebalance", col("__p")) else routed,
            Nil, s"b${batchId}v", version, attempt)
          // NULL-partition gate on the STAGED data — one pass, no query
          // re-execution (a driver-side pre-check would run the source
          // twice, and a non-deterministic source could pass the check
          // yet write NULLs). The staged dir listing is ground truth.
          r.staged.find(_._1 == "__HIVE_DEFAULT_PARTITION__").foreach { case (_, f, _) =>
            sys.error(s"batch writes NULL into partition column $partCol " +
              s"(staged at $f — unreferenced, vacuum reclaims it)")
          }
          staged = Some(r)
          stagedUnder = Some((m.colmap, m.dropped, identSnap))
        }
        // an append reads nothing; an overwrite replaces every live file
        // (legacy keys and their tags leave with them)
        val r = staged.get
        val next = (if (overwrite) r.copy(read = m.allFiles) else r)
          .onto(m, partCol, version, if (overwrite) "OVERWRITE" else "APPEND")
          .copy(
            schemaJson = Some(evolveSchema(if (overwrite) None else m.schemaJson,
              org.apache.spark.sql.types.StructType(fields.toArray))),
            txns = m.txns ++ allTxns,
            // propsAdd: caller-supplied property seeds (the DSv2 write
            // surface stamps PartColProp on first write) — existing values
            // win so a concurrent ALTER is never silently undone. REPLACE
            // (resetColumnState) inverts that: its propsAdd is an explicit
            // DECLARATION that overrides collisions in the same commit
            // (undeclared existing props — bookkeeping high-waters, row-id
            // bases — still survive, the documented REPLACE semantics)
            props = (if (resetColumnState)
              m.props ++ genTzStamp(spark, m.props ++ propsAdd, partCol) ++ propsAdd
             else (genTzStamp(spark, m.props ++ propsAdd, partCol) ++ propsAdd) ++
               m.props) ++ stagedHw)
        Publish(next, { v =>
          if (cdfOn) {
            // every staged row is an INSERT; an overwrite additionally
            // emits the replaced snapshot's rows as typed deletes (Delta
            // CDF semantics for INSERT OVERWRITE), read from the old files
            // (on disk until vacuum) under their OWN column mapping — the
            // unstripped manifest
            // the staged frame's schema: the batch's, under m's names
            val ins = toLogical(SnapshotRelation.scanFiles(spark, bp, m,
                lengths(r.staged),
                physSchema(m, StructType(fields))), m)
              .select(fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
              .withColumn("change_type", lit("insert"))
            val feed = Some(m0Read).filter(pm => overwrite && pm.files.nonEmpty)
              .map { pm =>
                readSnapshot(spark, bp, pm, None)
                  .select(fields.map(f =>
                    if (pm.schema.get.fieldNames.contains(f.name))
                      col(f.name).cast(f.dataType).as(f.name)
                    else lit(null).cast(f.dataType).as(f.name)): _*)
                  .withColumn("change_type", lit("delete"))
                  .unionByName(ins)
              }
              .getOrElse(ins)
            commitCdfVersion(fs, bp, v, feed.withColumn("_commit_version", lit(v)))
          }
          v
        })
      }
    }
  }

  /** A staged rewrite ([[stageRewrite]]): the live files it `read`,
    * the files it `staged` in their place (partition, rel path, byte
    * length), the `schema` they were written with (physical names),
    * and their manifest entries — size stats merged with column
    * bounds, and rebuilt blooms. */
  private final case class Rewrite(
      read: Seq[String],
      staged: Seq[(String, String, Long)],
      schema: StructType,
      stats: Map[String, Map[String, (String, String)]],
      blooms: Map[String, Map[String, String]]) {
    private def parts: Set[String] = staged.iterator.map(_._1).toSet

    /** `m` as version `version` of `op` with the rewrite spliced in —
      * the one splice rule every writer commits by: remove exactly
      * the files read (a partition they emptied drops its key), keep
      * any file a racer added beside them, add the staged files, and
      * drop the read files' stats, blooms and DVs (their rows were
      * read THROUGH the DVs). Staged rows may route into a partition
      * the read set did not cover (legacy-partition migration), so
      * staged files append to a kept partition's list. */
    def onto(m: Manifest, partCol: String, version: Long, op: String): Manifest = {
      val gone = read.toSet
      val (emptied, thinned) = m.files.collect {
        case (p, fls) if fls.exists(gone) => p -> fls.filterNot(gone)
      }.partition(_._2.isEmpty)
      val kept = m.files -- emptied.keys ++ thinned
      val byPart = staged.groupBy(_._1).map { case (p, fls) => p -> fls.map(_._2) }
      requireNoLegacyCollision(m, partCol, byPart.keys, emptied.keySet)
      m.copy(
        version = version,
        files = kept ++ byPart.map { case (p, fls) =>
          p -> (kept.getOrElse(p, Nil) ++ fls).sorted },
        stats = (m.stats -- read) ++ stats,
        blooms = (m.blooms -- read) ++ blooms,
        dvs = m.dvs -- read,
        op = Some(op))
    }

    /** A DML outcome over the `affected` partitions: one the rewrite
      * staged nothing into was dropped, the rest were rewritten. */
    def outcome(v: Long, affected: Seq[String]): DmlOutcome =
      DmlOutcome(v, metadataOnly = false,
        affected.filterNot(parts), affected.filter(parts))
  }

  /** The staged write every rewriting writer shares: stage `out` (a
    * `__p`-routed frame in logical names) under a staging dir unique
    * to this attempt, list what landed, and record each staged file's
    * byte length and row count, its bounds over `statsCols` (PHYSICAL
    * names) and, with `rebuildBlooms`, blooms over the columns the
    * `read` files carried blooms for — blooms must survive
    * maintenance, or point-lookup skipping silently stops. The
    * attempt-unique dir means a concurrent writer that claimed the
    * same version never overwrites a dir the race winner committed; a
    * loser's orphan dir is vacuum's job. `__p` DUPLICATES the partition
    * column for the directory layout, so it survives as a real column
    * in the data files (manifest-list reads never reconstruct Hive
    * dir names). `bucketSalts` (bucketed tables with a byte target)
    * routes through [[stageBucketedSplit]]. */
  private def stageRewrite(
      spark: SparkSession, fs: FileSystem, bp: Path, m: Manifest,
      out: DataFrame, read: Seq[String],
      tag: String, version: Long, attempt: Int,
      statsCols: Seq[String] = Nil,
      rebuildBlooms: Boolean = false,
      bucketSalts: Map[String, Int] = Map.empty): Rewrite = {
    val rel = s"data/$tag$version-a$attempt-${java.util.UUID.randomUUID.toString.take(8)}"
    val dir = new Path(bp, rel)
    val phys = toPhysical(out, m)
    if (bucketSalts.isEmpty) stagePartitioned(phys, m, fs, dir)
    else {
      val gone = read.toSet
      stageBucketedSplit(phys, m, fs, dir,
        m.files.collect { case (p, fls) if fls.exists(gone) => p }.toSeq, bucketSalts)
    }
    val staged = listStaged(fs, dir, rel)
    val wrote = StructType(phys.schema.filterNot(_.name == "__p"))
    val bounded = statsCols.filterNot(m.dropped)
    val bounds =
      if (bounded.isEmpty || staged.isEmpty) Map.empty[String, Map[String, (String, String)]]
      else fileStats(spark, fs, bp, m, staged, wrote, bounded)
    val blooms =
      if (!rebuildBlooms) Map.empty[String, Map[String, String]]
      else computeBlooms(spark, fs, bp, m, lengths(staged),
        read.flatMap(f => m.blooms.getOrElse(f, Map.empty).keys).distinct
          // a dropped column's bloom cannot rebuild (its bytes are gone
          // from the rewrite), and nothing queries it
          .filterNot(m.dropped), 0.03)
    Rewrite(read, staged, wrote,
      mergeFileStats(sizeStats(spark, fs, bp, staged), bounds), blooms)
  }

  /** (partition value, rel file path, byte length) for every parquet
    * file under a `partitionBy("__p")` staging layout — pure listing,
    * no Spark job. Dir names carry Hive-escaped partition values;
    * [[dec]]-compatible percent unescaping recovers the value (the
    * table contract already bans tab/newline in canonical partition
    * strings). Lengths ride along for free — the listing the writer
    * already does is where [[ByteSizeKey]] manifest entries come from,
    * zero extra RPCs. */
  private def listStaged(
      fs: FileSystem, dir: Path, rel: String): Seq[(String, String, Long)] =
    fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("__p=")).flatMap { d =>
        val value = dec(d.getPath.getName.stripPrefix("__p="))
        fs.listStatus(d.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(st => (value, s"$rel/${d.getPath.getName}/${st.getPath.getName}",
            st.getLen))
      }

  /** Stage a `__p`-carrying, PHYSICAL-named frame under `dir`,
    * honoring the table's bucket spec (see [[BucketCountProp]]):
    * unbucketed tables write as-is; bucketed tables route rows with
    * `repartition(n, bucketCols)` — whose `HashPartitioning`
    * partition index is EXACTLY the Spark bucket id (murmur3 + pmod,
    * the computation `BucketingUtils` expects) — and then rename the
    * staged files so the leading task index doubles as the `_NNNNN`
    * bucket tag `FileSourceScanExec`'s bucketed scan parses. AQE
    * never coalesces a user-numbered repartition, so the task count
    * (and with it the index↔bucket identity) is stable. */
  private def stagePartitioned(
      df: DataFrame, m: Manifest, fs: FileSystem, dir: Path): Unit =
    m.bucketSpec match {
      case None => df.write.partitionBy("__p").parquet(dir.toString)
      case Some((n, cols)) =>
        df.repartition(n, cols.map(c => col(m.phys(c))): _*)
          .write.partitionBy("__p").parquet(dir.toString)
        tagBucketFiles(fs, dir)
    }

  /** Target-size variant of [[stagePartitioned]] for BUCKETED tables:
    * buckets whose byte budget wants more than one output file
    * (`saltsPB`: "<partition>\u0000<bucketId>" → file count, only entries
    * > 1) are soft-split by a deterministic content-hash salt. The
    * bucket id is computed EXPLICITLY as `pmod(hash(bucketCols), n)` —
    * bit-identical to the `HashPartitioning` index [[stagePartitioned]]
    * relies on (murmur3 seed 42 + pmod, the `BucketingUtils`
    * computation) — because the task index can no longer double as the
    * tag once a bucket spans several tasks. Rows range-route to one
    * task per intended (partition, bucket, salt) file (explicit task
    * count: AQE would coalesce the exchange and merge the split away),
    * the write lands `__p=…/__bucket=…/` dirs, and the bucket dirs
    * collapse into the parent with the `_NNNNN` file tag — several
    * same-tag files per bucket, which Spark's bucketed scan groups
    * back into that bucket's one scan partition. Best-effort like the
    * unbucketed salting: salt groups hashed into the same task merge
    * into one file; the split is layout, never semantics. */
  private def stageBucketedSplit(
      df: DataFrame, m: Manifest, fs: FileSystem, dir: Path,
      parts: Seq[String], saltsPB: Map[String, Int]): Unit = {
    val (n, cols) = m.bucketSpec.getOrElse(
      sys.error("stageBucketedSplit on an unbucketed table"))
    val dataCols = df.columns.filter(_ != "__p").toSeq
    // one task per intended output file: budgeted buckets contribute
    // their salt count, every other (partition, bucket) pair one task
    val pairCount = parts.iterator
      .map(p => math.max(m.files.getOrElse(p, Nil)
        .flatMap(bucketIdOf).distinct.size, 1)).sum
    val nTasks = math.min(100000L,
      math.max(1L, pairCount.toLong + saltsPB.valuesIterator.map(_ - 1L).sum))
      .toInt
    df.withColumn("__bucket",
        pmod(hash(cols.map(c => col(m.phys(c))): _*), lit(n)))
      .withColumn("__salt",
        pmod(xxhash64(struct(dataCols.map(col): _*)),
          coalesce(
            element_at(typedLit(saltsPB),
              concat(col("__p"), lit("\u0000"),
                col("__bucket").cast("string"))),
            lit(1)).cast("long")))
      .repartitionByRange(nTasks, col("__p"), col("__bucket"), col("__salt"))
      .drop("__salt")
      .write.partitionBy("__p", "__bucket").parquet(dir.toString)
    // collapse __bucket= dirs into the parent __p= dir, the bucket id
    // becoming the file tag (failed renames fail the write — an
    // untagged file would degrade the whole table to unbucketed scans)
    fs.listStatus(dir).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("__p="))
      .foreach { pd =>
        fs.listStatus(pd.getPath).toSeq
          .filter(b => b.isDirectory && b.getPath.getName.startsWith("__bucket="))
          .foreach { bd =>
            val bid = bd.getPath.getName.stripPrefix("__bucket=").toInt
            fs.listStatus(bd.getPath).toSeq.filter(f =>
                !f.isDirectory && f.getPath.getName.endsWith(".parquet"))
              .foreach { f =>
                f.getPath.getName match {
                  case TaskFileName(idx, base, ext) =>
                    val to = new Path(pd.getPath,
                      f"part-$idx-${base}_$bid%05d${Option(ext).getOrElse("")}")
                    if (!fs.rename(f.getPath, to)) sys.error(
                      s"bucket tagging failed: could not rename ${f.getPath} to $to")
                  case other => sys.error(
                    s"unexpected staged file name under $bd: $other")
                }
              }
            fs.delete(bd.getPath, true)
          }
      }
  }

  /** Rename every staged `part-NNNNN-…` parquet file (inside the
    * `__p=…` subdirs) to Spark's bucketed-file naming
    * (`part-NNNNN-…_NNNNN.…`): under [[stagePartitioned]]'s routing
    * the leading task index IS the bucket id. */
  private val TaskFileName = """^part-(\d{5})-([^._]*)(\..*)?$""".r
  private def tagBucketFiles(fs: FileSystem, dir: Path): Unit = {
    def tagIn(d: Path): Unit =
      fs.listStatus(d).toSeq.filter(f =>
          !f.isDirectory && f.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          f.getPath.getName match {
            case TaskFileName(idx, base, ext) =>
              val to = new Path(d,
                s"part-$idx-${base}_$idx${Option(ext).getOrElse("")}")
              // a silently-failed rename would commit an untagged file
              // into a bucketed manifest — the read side would degrade
              // the WHOLE table to unbucketed scans; fail the write
              if (!fs.rename(f.getPath, to)) sys.error(
                s"bucket tagging failed: could not rename ${f.getPath} to $to")
            case _ => ()
          }
        }
    fs.listStatus(dir).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("__p="))
      .foreach(d => tagIn(d.getPath))
  }

  /** Spark bucket id parsed from a staged file name (the same
    * `_NNNNN` suffix shape Spark's `BucketingUtils` parses); None for
    * an untagged (pre-bucketing / unbucketed) file. */
  private val BucketTag = """.*_(\d+)(?:\..*)?$""".r
  private[sources] def bucketIdOf(relFile: String): Option[Int] =
    relFile.substring(relFile.lastIndexOf('/') + 1) match {
      case BucketTag(id) => id.toIntOption
      case _ => None
    }

  /** Is this bucketed partition already optimally laid out — every
    * file tagged, and each bucket holding no more files than its byte
    * budget requires? Without a byte target the budget is ONE file per
    * bucket (n files per partition is the bucketed steady state, not
    * fragmentation). With [[OptimizeTargetProp]] set the budget is
    * ceil(bucketBytes / target): a bucket soft-split by a previous
    * target-size OPTIMIZE is steady state too — maintenance CONVERGES
    * on the split layout instead of ping-ponging it back to one file. */
  private def bucketsCompact(
      fls: Seq[String], m: Manifest, targetBytes: Option[Long]): Boolean = {
    val ids = fls.map(bucketIdOf)
    ids.forall(_.isDefined) && fls.groupBy(f => bucketIdOf(f).get)
      .values.forall(g => g.size <= filesFor(g, m, targetBytes))
  }

  /** Output-file budget for rewriting `fls`: ceil(bytes / target) with
    * a byte target, else one file. */
  private def filesFor(
      fls: Seq[String], m: Manifest, targetBytes: Option[Long]): Int =
    targetBytes.fold(1)(t =>
      math.max(1, math.ceil(fls.map(fileBytes(m, _)).sum.toDouble / t).toInt))

  /** The table's [[OptimizeTargetProp]] byte target, if validly set. */
  private def optimizeTargetOf(m: Manifest): Option[Long] =
    m.props.get(OptimizeTargetProp)
      .flatMap(_.trim.toLongOption).filter(_ > 0)

  /** A live file's recorded [[ByteSizeKey]] length — every committed
    * manifest carries one per file ([[tryCommit]] refuses otherwise). */
  private[graft] def fileBytes(m: Manifest, f: String): Long =
    m.stats.get(f).flatMap(_.get(ByteSizeKey)).flatMap(_._1.toLongOption)
      .getOrElse(throw new ProtocolException(
        s"manifest v${m.version} records no byte length for $f"))

  /** Pseudo-column under which each file's ROW COUNT rides in the
    * stats map (as an (n, n) bound — grammar-compatible, and `:` `;`
    * never appear in a decimal integer). Written by the same stats
    * pass; [[countRows]]/[[partitionCounts]] answer COUNT(*) from the
    * manifest alone — the Iceberg snapshot-summary idea. */
  val RowCountKey = "__rows"

  /** Pseudo-column carrying each file's BYTE LENGTH — with the schema
    * header this completes O(manifest) planning: [[SnapshotRelation]]
    * synthesizes the scan's `FileStatus` entries from these instead of
    * one driver-serial `getFileStatus` RPC per data file. Written by
    * every data-writing commit from the staging listing. */
  val ByteSizeKey = "__bytes"

  /** Above this many staged files, the per-file row-count footer sweep
    * runs as a DISTRIBUTED job (one metadata RPC per file, in tasks)
    * instead of sequential driver reads — a 10^4-file OPTIMIZE commit
    * on an object store must not pay 10^4 sequential round trips of
    * commit latency. Below it, job-launch overhead would dominate a
    * handful of local reads. */
  private val DistributedStatsThreshold = 16

  /** Driver-side footer reads, counted for the scale contract's spec:
    * a commit staging ≥ [[DistributedStatsThreshold]] files must not
    * grow this. */
  private[sources] val driverFooterReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-staged-file bookkeeping entries every commit records for
    * free: the byte length (from the staging listing — powers the
    * zero-RPC FileStatus synthesis at plan time) and the ROW COUNT
    * from the parquet footer — one driver-side footer read per NEW
    * file, never a Spark job (the same O(new files) class as enabling
    * row tracking or CONVERT). With counts total, [[countRows]] /
    * [[partitionCounts]] — and the metadata-only COUNT(*) plan fold
    * ([[graft.plans.MetadataAggRewrite]]) — work on every table, not
    * just statsCols/ANALYZE ones. A failed footer read degrades to a
    * count-less entry (metadata counts refuse, the commit proceeds). */
  private def sizeStats(
      spark: SparkSession, fs: FileSystem, base: Path,
      staged: Seq[(String, String, Long)]): Map[String, Map[String, (String, String)]] = {
    val counts: Map[String, Option[Long]] =
      if (staged.size < DistributedStatsThreshold)
        staged.map { case (_, f, _) => f -> footerCount(fs, base, f) }.toMap
      else {
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          fs.getConf)
        val qBase = fs.makeQualified(base).toString
        spark.sparkContext
          .parallelize(staged.map(_._2),
            math.min(staged.size, spark.sparkContext.defaultParallelism * 2))
          .map { f =>
            val cnt =
              try {
                val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
                  org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    new Path(qBase, f), hconf.value))
                try Some(rd.getRecordCount) finally rd.close()
              } catch { case scala.util.control.NonFatal(_) => None }
            f -> cnt
          }.collect().toMap
      }
    staged.map { case (_, f, len) =>
      f -> (Map(ByteSizeKey -> (len.toString, len.toString)) ++
        counts.getOrElse(f, None).map(n =>
          RowCountKey -> (n.toString, n.toString)))
    }.toMap
  }

  private def footerCount(fs: FileSystem, base: Path, f: String): Option[Long] =
    try {
      driverFooterReads.incrementAndGet()
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(base, f), fs.getConf))
      try Some(rd.getRecordCount) finally rd.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deep per-file merge of two stats maps (right wins per column). */
  private def mergeFileStats(
      a: Map[String, Map[String, (String, String)]],
      b: Map[String, Map[String, (String, String)]]): Map[String, Map[String, (String, String)]] =
    (a.keySet ++ b.keySet).iterator.map { f =>
      f -> (a.getOrElse(f, Map.empty) ++ b.getOrElse(f, Map.empty))
    }.toMap

  /** Is a batch's `fresh` type readable UNDER the prior declared
    * type — equal modulo nullability, or (structs, recursively) a
    * SUBSET of the prior's fields with compatible types? A batch
    * written before a nested add-column simply lacks the new subfield;
    * the schema header must keep the evolved shape instead of
    * degrading to the footer union. */
  private def readableUnder(
      fresh: org.apache.spark.sql.types.DataType,
      prior: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    (fresh, prior) match {
      case (a, b) if DataType.equalsIgnoreNullability(a, b) => true
      case (fs: StructType, ps: StructType) =>
        fs.fields.forall(ff => ps.fields.exists(pf =>
          pf.name.equalsIgnoreCase(ff.name) &&
            readableUnder(ff.dataType, pf.dataType)))
      case (ArrayType(fe, _), ArrayType(pe, _)) => readableUnder(fe, pe)
      case _ => false
    }
  }

  /** SQL INSERT's store assignment, applied to a write batch: a column
    * whose type the declared one cannot read is cast to the declared
    * type when an ANSI store assignment allows it (numeric to numeric;
    * an overflow raises at write). Any other mismatch is left for
    * [[evolveSchema]] to refuse. */
  private def storeAssign(df: DataFrame, m: Manifest): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val declared = m.schema.map(_.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty)
    val casts = df.schema.fields.toSeq.collect {
      case f if declared.get(f.name).exists(t => !readableUnder(f.dataType, t) &&
          Cast.canANSIStoreAssign(f.dataType, t)) =>
        f.name -> col(f.name).cast(declared(f.name))
    }
    if (casts.isEmpty) df else df.withColumns(casts.toMap)
  }

  /** Evolve the manifest-held schema with what a commit just wrote:
    * prior fields keep their order, brand-new fields append —
    * add-column evolution — and everything is nullable (older files
    * read NULL for the new fields). A same-name TYPE change the
    * declared type cannot read is refused: every committed manifest
    * carries ONE schema. */
  private def evolveSchema(
      prior: Option[String],
      fresh: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.types.{DataType, StructType}
    prior.map(DataType.fromJson(_).asInstanceOf[StructType]) match {
      case None => StructType(fresh.fields.map(_.copy(nullable = true))).json
      case Some(p) =>
        val freshByName = fresh.fields.map(f => f.name -> f).toMap
        val kept = p.fields.map { f =>
          freshByName.get(f.name).foreach(nf => require(
            readableUnder(nf.dataType, f.dataType),
            s"batch column ${f.name} is ${nf.dataType.sql}, the table " +
              s"declares ${f.dataType.sql} — cast the batch or ALTER " +
              "COLUMN TYPE first"))
          f.copy(nullable = true)
        }
        val added = fresh.fields
          .filterNot(f => p.fieldNames.contains(f.name))
          .map(_.copy(nullable = true))
        StructType(kept ++ added).json
    }
  }

  /** The shared stats aggregation: per-file min/max of `statsCols`
    * plus the row count and per-column NON-NULL counts, over whatever
    * file grouping the caller provides. Row layout: col 0 = file,
    * cols 1..2n = min/max pairs, col 1+2n = count, cols 2+2n..1+3n =
    * non-null counts (appended last so existing index math holds). */
  private def statsAggs(statsCols: Seq[String]): Seq[Column] =
    (statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c"))) :+
      count(lit(1)).cast("string").as("__nrows")) ++
      statsCols.map(c => count(col(c)).cast("string").as(s"__nc_$c"))

  private def decodeBounds(
      r: Row, statsCols: Seq[String]): Map[String, (String, String)] = {
    val n = r.getString(1 + 2 * statsCols.size)
    statsCols.zipWithIndex.flatMap { case (c, i) =>
      val (mnI, mxI) = (1 + 2 * i, 2 + 2 * i)
      if (r.isNullAt(mnI) || r.isNullAt(mxI)) None
      else Some(c -> (r.getString(mnI), r.getString(mxI)))
    }.toMap ++ statsCols.zipWithIndex.flatMap { case (c, i) =>
      // non-null count per column (count(col) is 0, never NULL, for an
      // all-NULL file — recorded unconditionally when the row has the
      // slot; rows from a pre-extension caller simply lack it)
      val ncI = 2 + 2 * statsCols.size + i
      if (r.size <= ncI || r.isNullAt(ncI)) None
      else Some(NonNullCountKey(c) -> (r.getString(ncI), r.getString(ncI)))
    } + (RowCountKey -> (n, n))
  }

  /** Per-file stats key holding column `c`'s NON-NULL row count (the
    * `(n, n)` shape [[RowCountKey]] uses) — lets `COUNT(c)` fold from
    * metadata ([[graft.plans.MetadataAggRewrite]]). The `:` makes the
    * key unspellable as a column name in the stats map's namespace. */
  def NonNullCountKey(c: String): String = s"__nn:$c"

  /** One aggregation job over staged files: per-file min/max of
    * `statsCols` (+ row count), keyed by rel path. `schema` is the
    * schema of the frame that was staged (PHYSICAL names); the scan
    * reads only the stats columns. Bounds are stored as canonical
    * strings; NULL bounds (an all-NULL column in a file) are omitted. */
  private def fileStats(
      spark: SparkSession,
      fs: FileSystem,
      bp: Path,
      m: Manifest,
      staged: Seq[(String, String, Long)],
      schema: StructType,
      statsCols: Seq[String]): Map[String, Map[String, (String, String)]] =
    perFile(spark, fs, bp, m, lengths(staged),
      columnsOf(schema, statsCols), statsAggs(statsCols))
      .map { case (f, r) => f -> decodeBounds(r, statsCols) }

  /** (rel path, byte length) of each staged (partition, rel path,
    * length) entry. */
  private def lengths(staged: Seq[(String, String, Long)]): Seq[(String, Long)] =
    staged.map { case (_, f, len) => f -> len }

  /** One aggregation job over `files` (rel path under `bp` → byte
    * length) of `m`, or staged on top of it, read with `schema`: a row
    * per file (the file's URI, then `aggs`), keyed by rel path. */
  private def perFile(
      spark: SparkSession, fs: FileSystem, bp: Path, m: Manifest,
      files: Seq[(String, Long)], schema: StructType,
      aggs: Seq[Column]): Map[String, Row] = {
    val byPath = files.map { case (f, _) =>
      fs.makeQualified(new Path(bp, f)).toUri.getPath -> f }.toMap
    SnapshotRelation.scanFiles(spark, bp, m, files, schema)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().flatMap { r =>
        byPath.get(new Path(new java.net.URI(r.getString(0))).toUri.getPath)
          .map(_ -> r)
      }.toMap
  }

  /** The fields of `schema` named in `cols` (case-insensitive). */
  private def columnsOf(schema: StructType, cols: Seq[String]): StructType =
    StructType(schema.fields.filter(f => cols.exists(_.equalsIgnoreCase(f.name))))

  /** `CONVERT TO graft_snapshot` — IN-PLACE adoption of an existing
    * parquet directory as version 1 of a commit log: ZERO data files
    * rewritten or moved (Delta's CONVERT TO DELTA). The first verb a
    * user with existing data reaches for; after it, the whole surface
    * (DML, time travel, OPTIMIZE, constraints, CDF…) works on the old
    * files.
    *
    * Layout contract, both halves verified by ONE scan:
    *  - files must CARRY the partition column in their CONTENTS —
    *    this engine's readers never do Hive dir-name reconstruction.
    *    A Hive-partitioned layout whose writer dropped the column
    *    refuses loudly with the one-time enrichment suggestion
    *    (read via Spark's partition discovery + CTAS — a rewrite, so
    *    deliberately NOT what this verb does silently).
    *  - every file must be SINGLE-VALUED in the partition column: the
    *    manifest maps partition → files and every partition-scoped
    *    rewrite (UPDATE/DELETE/MERGE/OPTIMIZE) replaces whole file
    *    lists — a file spanning two partitions would lose its other
    *    partition's rows at the first rewrite. Mixed files refuse
    *    (named in the error) rather than convert to a corruptible
    *    table.
    *
    * The same verification pass harvests per-file `statsCols` bounds,
    * row counts, and partition values; byte lengths come from the
    * directory listing — so the converted table plans O(manifest)
    * (synthesized FileStatus, metadata COUNT(*), stats pruning) from
    * day one, no follow-up ANALYZE required (though `computeStats`
    * remains the backfill for columns not named here). */
  def convertInPlace(
      spark: SparkSession,
      base: String,
      partCol: String,
      statsCols: Seq[String] = Nil): Long = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    require(readManifest(fs, bp).isEmpty && currentVersion(fs, bp) == 0L,
      s"$base is already a graft_snapshot table")
    val qBase = fs.makeQualified(bp).toUri.getPath
    val listed = {
      val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      val it = fs.listFiles(bp, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath.stripPrefix(qBase)
          .stripPrefix("/")
        // Spark's hidden convention applied to every PATH COMPONENT:
        // a file under _log/, .staging/, etc. is not data — but
        // `name=value` partition dirs are data whatever their prefix
        // (Spark's own shouldFilterOutPathName exemption)
        val hidden = rel.split("/").exists(c =>
          (c.startsWith("_") || c.startsWith(".")) && !c.contains("="))
        if (rel.endsWith(".parquet") && !hidden)
          buf += ((rel, st.getLen))
      }
      buf.toSeq
    }
    require(listed.nonEmpty, s"no parquet files under $base to convert")
    // explicit LEAF files: no Hive partition-dir inference — the scan
    // sees exactly what a post-convert reader will see
    val df = spark.read.option("mergeSchema", "true")
      .parquet(listed.map(f => new Path(bp, f._1).toString): _*)
    partColsOf(partCol).filterNot(pc =>
        df.columns.exists(_.equalsIgnoreCase(pc))).foreach(pc =>
      sys.error(
        s"partition column $pc is not in the file contents of $base — " +
          "this engine reads partition values from file CONTENTS, not " +
          "directory names; rewrite once with the column carried " +
          "(read with Spark partition discovery + CREATE TABLE … AS) " +
          "and convert the rewrite"))
    val sizes = listed.toMap
    // unpartitioned convert ([[NoPartCol]]): no layout contract to
    // verify — every file files under the single hidden partition; the
    // scan runs only when stats were requested
    val (byPart, stats) =
      if (partCol.isEmpty) {
        val bounds: Map[String, Map[String, (String, String)]] =
          if (statsCols.isEmpty) Map.empty
          else {
            val aggs = statsAggs(statsCols)
            df.groupBy(input_file_name().as("__f"))
              .agg(aggs.head, aggs.tail: _*)
              .collect().map { r =>
                val abs = new Path(new java.net.URI(r.getString(0))).toUri.getPath
                abs.stripPrefix(qBase).stripPrefix("/") ->
                  decodeBounds(r, statsCols)
              }.toMap
          }
        (Map(SinglePart -> listed.map(_._1).sorted),
          listed.map { case (f, l) =>
            f -> (bounds.getOrElse(f, Map.empty) +
              (ByteSizeKey -> (l.toString, l.toString)))
          }.toMap)
      } else {
        val pcs = partColsOf(partCol)
        val cols = pcs ++ statsCols.filterNot(c =>
          pcs.exists(_.equalsIgnoreCase(c)))
        val aggs = statsAggs(cols)
        // per-file min/max of EVERY partition column ride the one stats
        // job: a file converts only when each component is single-valued
        // and non-NULL (its min == max), and those values compose the
        // manifest key exactly as partRoute would
        val perFile = df.groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            val abs = new Path(new java.net.URI(r.getString(0))).toUri.getPath
            val comps = pcs.indices.map { i =>
              val (mnI, mxI) = (1 + 2 * i, 2 + 2 * i)
              (if (r.isNullAt(mnI)) None else Some(r.getString(mnI)),
                if (r.isNullAt(mxI)) None else Some(r.getString(mxI)))
            }
            abs.stripPrefix(qBase).stripPrefix("/") ->
              (comps, decodeBounds(r, cols))
          }.toMap
        val mixed = perFile.collect {
          case (f, (comps, _))
              if comps.exists { case (mn, mx) => mn.isEmpty || mn != mx } => f
        }.toSeq.sorted
        if (mixed.nonEmpty) sys.error(
          s"cannot convert $base in place: ${mixed.size} file(s) hold a NULL " +
            s"or more than one $partCol value (partition-scoped rewrites " +
            s"would corrupt them) — compact per partition first. First " +
            s"offenders: ${mixed.take(5).mkString(", ")}")
        def keyOf(comps: Seq[(Option[String], Option[String])]): String =
          if (pcs.size == 1) comps.head._1.get
          else comps.map(c => encPartComp(c._1.get)).mkString("/")
        (perFile.toSeq
          .map { case (f, (comps, _)) => keyOf(comps) -> f }
          .groupBy(_._1).map { case (p, fs0) => p -> fs0.map(_._2).sorted },
          perFile.map { case (f, (_, bounds)) =>
            f -> (bounds ++ sizes.get(f).map(l =>
              ByteSizeKey -> (l.toString, l.toString)))
          })
      }
    val m = Manifest(1L, byPart, stats,
      schemaJson = Some(StructTypeNullable(df.schema)),
      op = Some("CONVERT"),
      // stamp the layout so catalog/DSv2 consumers learn it from the
      // manifest alone ("" = explicitly unpartitioned)
      props = Map(PartColProp -> partCol))
    if (!tryCommit(fs, bp, m)) sys.error(
      s"CONVERT lost a commit race on $base — another writer claimed v1")
    1L
  }

  /** `ALTER TABLE … SYNC IDENTITY` (Delta's verb): recompute each
    * identity column's high-water mark from the ACTUAL data — one
    * column-pruned scan per identity column — and commit the result
    * metadata-only. This is the repair for the two ways the mark can
    * fall behind the data: `GENERATED BY DEFAULT` explicit inserts
    * (which deliberately don't advance it) and a CONVERTed/CLONEd
    * table whose values predate the declaration. The mark only moves
    * TOWARD safety (max for ascending, min for descending sequences);
    * uniqueness of future allocations needs `hw` beyond every live
    * value, not grid alignment. Returns 0 when nothing moved. */
  def syncIdentity(
      spark: SparkSession, base: String, maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "SYNC IDENTITY", maxRetries) { (m, _, _) =>
      lazy val live = readSnapshot(spark, bp, m, None)
      val upd = m.identityCols.flatMap { case (c, (start, step)) =>
        if (!live.columns.exists(_.equalsIgnoreCase(c))) None
        else {
          val hw = m.identityHighWater(c, start, step)
          val agg = if (step > 0) max(col(c)) else min(col(c))
          val row = live.agg(agg.cast("long")).head
          val bound = if (row.isNullAt(0)) hw else row.getLong(0)
          val hw2 = if (step > 0) math.max(hw, bound) else math.min(hw, bound)
          if (hw2 == hw) None
          else Some(IdentityHighWaterPrefix + c -> hw2.toString)
        }
      }.toMap
      if (upd.isEmpty) Done(0L)
      else Publish(m.copy(props = m.props ++ upd, op = Some("SYNC_IDENTITY")), identity)
    }
  }

  /** `FSCK REPAIR TABLE` (Delta's verb): drop manifest entries whose
    * data files no longer exist on storage — the recovery after an
    * out-of-band deletion (a cleanup job, a bucket lifecycle rule)
    * that would otherwise fail every scan touching the hole. One
    * existence probe per live file (driver-side, metadata-plane), then a
    * metadata-only commit removing the gone files with their
    * stats/blooms/DVs; partitions whose every file vanished drop
    * entirely. `dryRun` reports without committing. Returns the gone
    * files (relative paths). */
  def fsckRepair(
      spark: SparkSession, base: String, dryRun: Boolean = false,
      maxRetries: Int = 5): Seq[String] = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    commitExisting(fs, bp, "FSCK", maxRetries) { (m, _, _) =>
      val gone = m.allFiles.filterNot { f =>
        val p = new Path(f)
        fs.exists(if (p.isAbsolute) p else new Path(bp, f))
      }
      if (gone.isEmpty || dryRun) Done(gone)
      else {
        val goneSet = gone.toSet
        val files2 = m.files.view.mapValues(_.filterNot(goneSet)).toMap
          .filter(_._2.nonEmpty)
        Publish(m.copy(files = files2, stats = m.stats -- gone,
          blooms = m.blooms -- gone, dvs = m.dvs -- gone, op = Some("FSCK")),
          _ => gone)
      }
    }
  }

  /** ANALYZE for the commit log: compute per-file bounds (+ the row
    * count that rides with them) for every LIVE file missing any of
    * `statsCols`' entries, and commit the result as a new
    * METADATA-ONLY version — same files, stats merged, blooms
    * untouched (Iceberg's compute-stats action). This is the recovery
    * path when files were written stats-less (a statsCols-less
    * compaction or convert): such files are never pruned and make
    * metadata counts degrade to None, and fixing that needs one scan
    * of ONLY the stats-less files plus one manifest commit — no data
    * rewrite. Returns the new version, or 0 if nothing was missing. */
  def computeStats(
      spark: SparkSession,
      base: String,
      statsCols: Seq[String],
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    commitLoop(fs, bp, "STATS", maxRetries) { (snap, _, _) =>
      // manifest stats keys are PHYSICAL column names; callers speak
      // logical (column mapping)
      val m = snap.getOrElse(Manifest(0L, Map.empty))
      val physCols = statsCols.map(m.phys)
      val wanted = physCols :+ RowCountKey
      val need = m.allFiles.filter { f =>
        val have = m.stats.getOrElse(f, Map.empty)
        !wanted.forall(have.contains)
      }
      if (need.isEmpty) Done(0L)
      else {
        val fresh = perFile(spark, fs, bp, m, need.map(f => f -> fileBytes(m, f)),
          columnsOf(scanSchema(m, rowIds = false), physCols), statsAggs(physCols))
          .map { case (f, r) => f -> decodeBounds(r, physCols) }
        val merged = fresh.foldLeft(m.stats) {
          case (acc, (f, b)) => acc.updated(f, acc.getOrElse(f, Map.empty) ++ b)
        }
        Publish(m.copy(stats = merged, op = Some("STATS")), identity)
      }
    }
  }

  /** A schema's JSON with every field nullable — the manifest-header
    * convention (older files backfill NULL for evolved columns). */
  private def StructTypeNullable(
      s: org.apache.spark.sql.types.StructType): String =
    org.apache.spark.sql.types.StructType(
      s.fields.map(_.copy(nullable = true))).json

  /** COUNT(*) answered from the manifest alone — no data file is
    * listed or opened. None if any live file lacks a recorded count
    * (written without `statsCols`): partial metadata must degrade to
    * a scan, never to a wrong number. */
  def countRows(m: Manifest): Option[Long] = {
    val ns = m.allFiles.map(f =>
      m.stats.get(f).flatMap(_.get(RowCountKey)).flatMap(_._1.toLongOption)
        // a deletion vector's positions are invisible rows: the
        // physical count minus the DV's exact cardinality
        .map(_ - m.dvs.get(f).map(_.count).getOrElse(0L)))
    if (ns.exists(_.isEmpty)) None else Some(ns.flatten.sum)
  }

  /** Table-wide COUNT(col) — non-null rows of `column` (PHYSICAL
    * name) — from the per-file [[NonNullCountKey]] stats alone; same
    * totality contract as [[countRows]], plus a DV refusal: a deletion
    * vector can mask non-null rows, and its cardinality says nothing
    * about WHICH, so any DV on the table degrades to a scan. */
  def countNonNull(m: Manifest, column: String): Option[Long] = {
    if (m.dvs.nonEmpty) return None
    val ns = m.allFiles.map(f =>
      m.stats.get(f).flatMap(_.get(NonNullCountKey(column)))
        .flatMap(_._1.toLongOption))
    if (ns.exists(_.isEmpty)) None else Some(ns.flatten.sum)
  }

  /** Per-partition COUNT(*) from the manifest alone; same totality
    * contract as [[countRows]]. */
  def partitionCounts(m: Manifest): Option[Map[String, Long]] = {
    val per = m.files.toSeq.map { case (p, fls) =>
      val ns = fls.map(f =>
        m.stats.get(f).flatMap(_.get(RowCountKey)).flatMap(_._1.toLongOption)
          .map(_ - m.dvs.get(f).map(_.count).getOrElse(0L)))
      if (ns.exists(_.isEmpty)) None else Some(p -> ns.flatten.sum)
    }
    if (per.exists(_.isEmpty)) None else Some(per.flatten.toMap)
  }

  /** The current version's files whose recorded bounds for `column` can
    * intersect [lo, hi] — numeric comparison when both bounds parse as
    * doubles, conservative otherwise (a file with no stats, or
    * non-numeric bounds, is never pruned). */
  def filesForRange(
      m: Manifest, column: String, lo: Double, hi: Double): Seq[String] =
    m.allFiles.filter { f =>
      m.stats.get(f).flatMap(_.get(m.phys(column))) match {
        case Some((mn, mx)) =>
          (mn.toDoubleOption, mx.toDoubleOption) match {
            case (Some(mnD), Some(mxD)) => mxD >= lo && mnD <= hi
            case _ => true
          }
        case None => true
      }
    }

  /** Build per-file bloom filters over `cols` for the CURRENT version's
    * files and commit them as a new METADATA-ONLY version (same files,
    * same stats, blooms added) — the explicit secondary-index pass of a
    * real table format (Delta's bloom index, Iceberg's puffin files):
    * a clustered layout makes ONE key range-prunable; blooms make
    * point lookups on any OTHER high-cardinality key file-prunable,
    * with no false negatives by construction. Sizing: one counting
    * pass finds the largest file's row count, blooms are sized for it
    * at `fpp` (per-file exactness matters less than the shared-size
    * single-pass build; Spark's BloomFilterAggregate is one
    * partial-agged pass over the corpus keyed by file). At 100 TB a
    * manifest carrying inline blooms grows by ~bits/8 per file —
    * production formats spill them to sidecar index files; the
    * planning model is identical. Long keys only (hash wider types to
    * xxhash64 first, as Spark's own runtime filter does). */
  def buildBlooms(
      spark: SparkSession,
      base: String,
      cols: Seq[String],
      fpp: Double = 0.03,
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    commitLoop(fs, bp, "BLOOMS", maxRetries) { (snap, _, _) =>
      snap.filter(_.allFiles.nonEmpty).fold[Attempt[Long]](Done(0L)) { m =>
        val built = computeBlooms(spark, fs, bp, m,
          m.allFiles.map(f => f -> fileBytes(m, f)), cols.map(m.phys), fpp)
        Publish(m.copy(blooms = m.blooms ++ built, op = Some("BLOOMS")), identity)
      }
    }
  }

  /** `RENAME COLUMN from → to` as a METADATA-ONLY commit via column
    * mapping ([[Manifest.colmap]]): the logical schema renames the
    * field and the mapping re-points the new name at the UNCHANGED
    * physical parquet column. Zero data files are touched or
    * rewritten; stats, blooms, and deletion vectors — all keyed by
    * physical file/column — stay live, so pruning survives the rename
    * unchanged. Time travel to a pre-rename version answers with the
    * old name (each manifest carries its own mapping) and RESTORE
    * rolls the mapping back with the schema.
    *
    * Refused loudly: renaming the PARTITION column (its name is the
    * catalog registration contract and keys every `partitionBy`
    * staging path), renaming onto an existing column, and renaming a
    * column referenced by a CHECK constraint (the stored SQL text
    * would silently stop matching — drop the constraint first). */
  def renameColumn(
      spark: SparkSession,
      base: String,
      from: String,
      to: String,
      partCol: Option[String] = None,
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "RENAME COLUMN", maxRetries) { (m, _, _) =>
      val sc = m.schema.get
      val field = sc.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        sys.error(s"no such column: $from"))
      require(!sc.fields.exists(_.name.equalsIgnoreCase(to)),
        s"column $to already exists")
      require(!partCol.exists(pc => partColsOf(pc)
        .exists(_.equalsIgnoreCase(field.name))),
        s"cannot rename partition column ${field.name}")
      // partition evolution: the declared layout AND any legacy layout
      // still holding live keys pin their columns (affected-set
      // computation and key decomposition reference them by name)
      require(!liveLayoutCols(m).exists(_.equalsIgnoreCase(field.name)),
        s"cannot rename ${field.name} — a current or legacy partition " +
          "layout references it")
      constraintsReferencing(m, field.name).foreach(n => sys.error(
        s"constraint $n references ${field.name}; drop it first"))
      generatedEntangled(m, field.name).foreach(g => sys.error(
        s"GENERATED column $g (graft.generated.$g) involves " +
          s"${field.name}; UNSET the property first"))
      require(!m.bucketSpec.exists(_._2.exists(_.equalsIgnoreCase(field.name))),
        s"cannot rename bucket column ${field.name} " +
          s"(UNSET $BucketColsProp first)")
      require(!m.identityCols.exists(_._1.equalsIgnoreCase(field.name)),
        s"cannot rename IDENTITY column ${field.name} " +
          s"(UNSET $IdentityPrefix${field.name} first)")
      val phys = m.phys(field.name)
      val evolved = org.apache.spark.sql.types.StructType(sc.fields.map(f =>
        if (f.name == field.name) f.copy(name = to) else f))
      val colmap = (m.colmap - field.name) ++
        (if (phys == to) Map.empty[String, String] else Map(to -> phys))
      Publish(m.copy(schemaJson = Some(StructTypeNullable(evolved)),
        op = Some("RENAME_COLUMN"), colmap = colmap), identity)
    }
  }

  /** `DROP COLUMN c` as a METADATA-ONLY commit: the logical schema
    * loses the field and its PHYSICAL name is tombstoned
    * ([[Manifest.dropped]]) — the bytes stay in the files but the
    * scan schema no longer includes them, so they are never read
    * again (and the next compaction/OPTIMIZE rewrite materializes the
    * removal physically). The tombstone is what makes a later ADD of
    * the same logical name SAFE: it must map to a fresh physical
    * name, or the dropped values would silently resurrect. Time
    * travel to a pre-drop version still reads the column; RESTORE
    * brings it back (the files still hold the bytes — that is the
    * point of restore). Partition column and constraint-referenced
    * columns refuse, as in [[renameColumn]]. */
  def dropColumn(
      spark: SparkSession,
      base: String,
      name: String,
      partCol: Option[String] = None,
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "DROP COLUMN", maxRetries) { (m, _, _) =>
      val sc = m.schema.get
      val field = sc.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"no such column: $name"))
      require(!partCol.exists(pc => partColsOf(pc)
        .exists(_.equalsIgnoreCase(field.name))),
        s"cannot drop partition column ${field.name}")
      require(!liveLayoutCols(m).exists(_.equalsIgnoreCase(field.name)),
        s"cannot drop ${field.name} — a current or legacy partition " +
          "layout references it")
      require(sc.fields.length > 1, "cannot drop the only column")
      constraintsReferencing(m, field.name).foreach(n => sys.error(
        s"constraint $n references ${field.name}; drop it first"))
      generatedEntangled(m, field.name).foreach(g => sys.error(
        s"GENERATED column $g (graft.generated.$g) involves " +
          s"${field.name}; UNSET the property first"))
      require(!m.bucketSpec.exists(_._2.exists(_.equalsIgnoreCase(field.name))),
        s"cannot drop bucket column ${field.name} " +
          s"(UNSET $BucketColsProp first)")
      require(!m.identityCols.exists(_._1.equalsIgnoreCase(field.name)),
        s"cannot drop IDENTITY column ${field.name} " +
          s"(UNSET $IdentityPrefix${field.name} first)")
      val evolved = org.apache.spark.sql.types.StructType(
        sc.fields.filterNot(_.name == field.name))
      Publish(m.copy(schemaJson = Some(StructTypeNullable(evolved)),
        op = Some("DROP_COLUMN"), colmap = m.colmap - field.name,
        dropped = m.dropped + m.phys(field.name)), identity)
    }
  }

  /** `ALTER COLUMN c TYPE t` as a METADATA-ONLY commit, WIDENING
    * conversions only (Delta's type-widening table feature): the
    * schema header re-declares the column at the wider type and every
    * scan upcasts old files' values on read — Spark 4's parquet
    * reader promotes small-int INT32 encodings to long, float to
    * double, and same-scale decimal precision growth natively — so
    * ZERO data files rewrite and the next write simply lands the
    * wider physical type. Non-widening changes refuse loudly (they
    * need a rewrite — CREATE OR REPLACE is that verb).
    *
    * Stats/bloom hygiene: integral widenings keep both (bounds
    * strings parse exactly at the wider type; Spark's bloom hashes
    * every integral as a long, so int-built blooms answer long
    * probes); decimal keeps bounds (exact decimal strings) but drops
    * blooms; float→double drops BOTH the column's bounds and blooms —
    * a float-printed bound re-parsed as double is NOT the upcast
    * value (0.1f prints "0.1", upcasts to 0.10000000149…), and a
    * stale tighter bound could wrongly prune a file. Dropped
    * stats/blooms are pure pruning loss, never wrong rows; the next
    * ANALYZE / bloom build restores them at the wider type.
    *
    * The partition column, bucket columns (murmur3 bucket hashes are
    * type-dependent — ids would silently change), identity columns,
    * and generated-entangled columns refuse, as in [[renameColumn]]. */
  def widenColumnType(
      spark: SparkSession,
      base: String,
      name: String,
      to: org.apache.spark.sql.types.DataType,
      partCol: Option[String] = None,
      maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types._
    def widens(f: DataType, t: DataType): Boolean = (f, t) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (fd: DecimalType, td: DecimalType) =>
        td.scale == fd.scale && td.precision > fd.precision
      case _ => false
    }
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "ALTER COLUMN TYPE", maxRetries) { (m, _, _) =>
      val sc = m.schema.get
      val field = sc.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"no such column: $name"))
      require(widens(field.dataType, to),
        s"only widening conversions are metadata-only: " +
          s"${field.dataType.sql} -> ${to.sql} is not " +
          "(CREATE OR REPLACE rewrites)")
      require(!partCol.exists(pc => partColsOf(pc)
        .exists(_.equalsIgnoreCase(field.name))),
        s"cannot retype partition column ${field.name}")
      require(!m.bucketSpec.exists(_._2.exists(_.equalsIgnoreCase(field.name))),
        s"cannot retype bucket column ${field.name} — the murmur3 bucket " +
          s"hash is type-dependent (UNSET $BucketColsProp first)")
      require(!m.identityCols.exists(_._1.equalsIgnoreCase(field.name)),
        s"cannot retype IDENTITY column ${field.name}")
      generatedEntangled(m, field.name).foreach(g => sys.error(
        s"GENERATED column $g (graft.generated.$g) involves " +
          s"${field.name}; UNSET the property first"))
      val phys = m.phys(field.name)
      val evolved = StructType(sc.fields.map(f =>
        if (f.name == field.name) f.copy(dataType = to) else f))
      val integral = field.dataType match {
        case ByteType | ShortType | IntegerType => true
        case _ => false
      }
      val keepStats = integral || field.dataType.isInstanceOf[DecimalType]
      val stats2 =
        if (keepStats) m.stats
        else m.stats.map { case (f, cs) => f -> (cs - phys) }
      val blooms2 =
        if (integral) m.blooms
        else m.blooms.map { case (f, cs) => f -> (cs - phys) }
      Publish(m.copy(schemaJson = Some(StructTypeNullable(evolved)),
        op = Some("ALTER_COLUMN_TYPE"), stats = stats2, blooms = blooms2),
        identity)
    }
  }

  /** `TRUNCATE TABLE` — delete every row as ONE metadata-only commit:
    * the manifest's file map empties (stats/blooms/DVs go with the
    * files they describe); schema, constraints, properties, column
    * mapping, and txn WATERMARKS carry forward (a truncate must not
    * reset exactly-once dedup, or a replayed micro-batch would
    * re-apply into the emptied table). Old versions still time-travel
    * to the data — [[vacuum]] reclaims it once they expire. With the
    * change feed on, the removed snapshot publishes as typed deletes
    * (the INSERT OVERWRITE contract). */
  def truncateTable(
      spark: SparkSession,
      base: String,
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    commitExisting(fs, bp, "TRUNCATE", maxRetries) { (m, _, _) =>
      if (m.allFiles.isEmpty) Done(m.version)
      else Publish(m.copy(files = Map.empty, stats = Map.empty,
        blooms = Map.empty, dvs = Map.empty, op = Some("TRUNCATE")), { v =>
        if (m.cdfEnabled) {
          commitCdfVersion(fs, bp, v,
            readFiles(spark, bp, m, m.allFiles).withColumn("change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
        }
        v
      })
    }
  }

  /** Names of CHECK constraints whose SQL text references column `c`
    * (conservative word-boundary match, case-insensitive — a false
    * positive refuses a rename that might have been safe, never the
    * reverse). */
  private def constraintsReferencing(m: Manifest, c: String): Option[String] = {
    val re = ("(?i)(?<![A-Za-z0-9_`])" +
      java.util.regex.Pattern.quote(c) + "(?![A-Za-z0-9_`])").r
    m.constraints.collectFirst {
      case (n, sql) if re.findFirstIn(sql).isDefined => n
    }
  }

  /** The GENERATED column whose definition is entangled with column
    * `c`: `c` itself when it IS generated, or a generated column whose
    * expression references `c` (same conservative word-boundary match
    * as [[constraintsReferencing]]). RENAME/DROP COLUMN refuse in both
    * cases — a `graft.generated.*` property survives the DDL verbatim,
    * so a renamed/dropped generated column would be silently RE-ADDED
    * under its old logical name by the next write (whose physical slot
    * is now tainted, failing `toPhysical` and bricking every
    * INSERT/UPSERT until the property is manually unset), and a
    * renamed dependency would break the stored expression's
    * resolution. Delta refuses these DDLs too. */
  private def generatedEntangled(m: Manifest, c: String): Option[String] = {
    val gens = generatedCols(m)
    gens.collectFirst { case (g, _) if g.equalsIgnoreCase(c) => g }
      .orElse {
        val re = ("(?i)(?<![A-Za-z0-9_`])" +
          java.util.regex.Pattern.quote(c) + "(?![A-Za-z0-9_`])").r
        gens.collectFirst { case (g, sql) if re.findFirstIn(sql).isDefined => g }
      }
  }

  /** Per-file blooms over `cols` for `files` (rel path → byte length)
    * of `m` or staged on top of it, read by `m`'s schema — the shared
    * core of [[buildBlooms]] and compaction's rebuild (blooms must
    * SURVIVE maintenance: a rewritten file without a fresh bloom would
    * silently stop point-lookup skipping on its keys). One pass: sizing
    * count, then a partial-agged bloom aggregation keyed by file. */
  private def computeBlooms(
      spark: SparkSession,
      fs: FileSystem,
      bp: Path,
      m: Manifest,
      files: Seq[(String, Long)],
      cols: Seq[String],
      fpp: Double): Map[String, Map[String, String]] = {
    val read = columnsOf(scanSchema(m, rowIds = false), cols)
    val usable = cols.filter(read.fieldNames.contains)
    if (files.isEmpty || usable.isEmpty) return Map.empty
    graft.functions.GraftFunctions.register(spark)
    val maxRows = math.max(1L, perFile(spark, fs, bp, m, files, read,
      Seq(count(lit(1)))).valuesIterator.map(_.getLong(1)).maxOption.getOrElse(1L))
    val bits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(maxRows, fpp)
    val aggs = usable.map(c => call_function(
      graft.functions.GraftFunctions.BloomAggName,
      col(c), lit(maxRows), lit(bits)).as(s"__b_$c"))
    perFile(spark, fs, bp, m, files, read, aggs).flatMap { case (f, r) =>
      val bl = usable.zipWithIndex.flatMap { case (c, i) =>
        if (r.isNullAt(i + 1)) None
        else Some(c -> java.util.Base64.getEncoder
          .encodeToString(r.getAs[Array[Byte]](i + 1)))
      }.toMap
      if (bl.isEmpty) None else Some(f -> bl)
    }
  }

  /** The files whose bloom for `column` MAY contain `value` — plus
    * every file without a bloom (never pruned). A bloom's negative is
    * definitive, so the result is exact-superset-safe. */
  def filesForKey(m: Manifest, column: String, value: Long): Seq[String] =
    m.allFiles.filter { f =>
      m.blooms.get(f).flatMap(_.get(m.phys(column))) match {
        case None => true
        case Some(b64) =>
          org.apache.spark.util.sketch.BloomFilter
            .readFrom(java.util.Base64.getDecoder.decode(b64))
            .mightContainLong(value)
      }
    }

  /** Bloom-pruned point read: only bloom-possible files are handed to
    * Spark, then the exact equality predicate applies on top. None when
    * the table is empty or every file's bloom excludes the key. */
  def readPoint(
      spark: SparkSession,
      base: String,
      column: String,
      value: Long): Option[DataFrame] = {
    val bp = new Path(base)
    readManifest(fsFor(spark, bp), bp).flatMap { m =>
      val files = filesForKey(m, column, value)
      if (files.isEmpty) None
      else Some(readFiles(spark, bp, m, files).filter(col(column) === value))
    }
  }

  /** Stats-pruned range read: hand Spark only the files whose manifest
    * bounds intersect [lo, hi], then apply the exact predicate on top.
    * None when the table is empty or no file can match. */
  def readRange(
      spark: SparkSession,
      base: String,
      column: String,
      lo: Double,
      hi: Double): Option[DataFrame] = {
    val bp = new Path(base)
    readManifest(fsFor(spark, bp), bp).flatMap { m =>
      val files = filesForRange(m, column, lo, hi)
      if (files.isEmpty) None
      else Some(readFiles(spark, bp, m, files)
        .filter(col(column) >= lo && col(column) <= hi))
    }
  }

  /** OPTIMIZE in ONE transaction — the maintenance pass every CDC sink
    * needs (each batch adds files; unchecked, read planning and
    * open-file overhead grow per batch). Every partition (of `parts`,
    * when given) that is fragmented (≥ `minFiles` files) or carries a
    * deletion vector is rewritten — DVs materialized, one file per
    * partition (or ~ceil(bytes/[[OptimizeTargetProp]]) files when the
    * byte-target property is set) — and the whole pass commits as a
    * SINGLE version: per-partition commits would churn 10⁴ versions
    * (and 10⁴ conflict windows) on a 10⁴-partition table for one
    * logical operation. The rewrite is one `repartition(partCol)` job
    * (hash distribution routes each partition's rows to exactly one
    * task → one output file per partition dir). Pure layout: the
    * table's CONTENT is unchanged, and old versions still time-travel
    * to the old layout. Untouched partitions keep their files, stats,
    * blooms, and DVs verbatim; rewritten files get fresh byte sizes,
    * fresh `statsCols` bounds, and REBUILT blooms over the columns
    * their replaced files carried.
    *
    * `zorderBy` makes it OPTIMIZE ZORDER: every selected partition is
    * rewritten (re-layout changes pruning, not just file counts),
    * range-clustered on the key(s) — z-order for several — into about
    * `clusterFiles` files per partition, so each file covers a tight
    * key range and fresh `statsCols` bounds become selective for
    * [[filesForRange]]. A bucketed table refuses it: range clustering
    * and bucketing both dictate the file layout.
    *
    * Returns the committed version, or 0 when nothing needed work. */
  def optimizeTable(
      spark: SparkSession,
      base: String,
      partCol: String,
      minFiles: Int = 2,
      maxRetries: Int = 5,
      statsCols: Seq[String] = Nil,
      parts: Option[Seq[String]] = None,
      zorderBy: Seq[String] = Nil,
      clusterFiles: Int = 1): Long = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    // CONFLICT-NARROWED retries (the multi-writer soak's OPTIMIZE
    // latency tail was recompute cost, not contention itself): the
    // staged rewrite replaces EXACTLY the files it read, so a lost
    // commit race invalidates it only when a racer removed/rewrote one
    // of THOSE files (or moved the column mapping / schema / DV state
    // under it). A concurrent APPEND — even into a partition being
    // compacted — leaves the staged output valid: the retry splices
    // METADATA-ONLY, removing the read files and adding the staged
    // ones beside the racer's (Delta's disjoint-file conflict rule),
    // instead of re-running the whole rewrite per lost race.
    type ReadState = (Map[String, Dv], Map[String, String], Set[String],
      Option[String], Option[Long])
    def readState(m: Manifest, read: Seq[String]): ReadState = {
      val fset = read.toSet
      (m.dvs.filter { case (f, _) => fset(f) }, m.colmap, m.dropped,
        m.schemaJson, optimizeTargetOf(m))
    }
    var staged: Option[(Rewrite, ReadState)] = None
    // rewrite every selected partition that needs it against `m`;
    // None when none does
    def restage(m: Manifest, version: Long, attempt: Int): Option[Rewrite] = {
      val targetBytes = optimizeTargetOf(m)
      // legacy-layout partitions (partition evolution) always
      // qualify: OPTIMIZE re-routes their rows under the CURRENT
      // layout — the incremental migration path that returns the
      // table to a single layout without a dedicated full rewrite
      val legacy = m.legacyKeys
      val need = m.files.keySet.toSeq.sorted.filter { p =>
        val fls = m.files(p)
        parts.forall(_.contains(p)) && (zorderBy.nonEmpty || legacy(p) ||
          fls.exists(m.dvs.contains) ||
          (if (m.bucketSpec.isDefined)
            // bucketed steady state is one file PER BUCKET — or, with
            // a byte target, ceil(bucketBytes/target) files; only a
            // bucket over its budget (or an untagged file) fragments
            !bucketsCompact(fls, m, targetBytes)
          else fls.size >= math.max(minFiles, 2)))
      }
      if (need.isEmpty) None
      else {
        val read = need.flatMap(m.files)
        // one job: read the selected partitions through their DVs
        // (row-tracked tables carry their ids into the rewrite as the
        // MATERIALIZED column — OPTIMIZE must not reassign identity).
        // Without a byte target each partition folds to ONE file; with
        // [[OptimizeTargetProp]] set, a deterministic content-hash salt
        // splits each partition into ~ceil(bytes/target) output files —
        // best-effort (salt groups sharing a task merge), bounded by
        // [1, n]. Partition byte totals come from the manifest's
        // `__bytes` rollups — pure metadata, no extra scan.
        val df = readFiles(spark, bp, m, read, rowIds = true)
          .withColumnRenamed(RowIdCol, MatRowIdCol)
          .withColumn("__p", partRoute(partCol))
        val saltsOf: Map[String, Int] =
          if (targetBytes.isEmpty) Map.empty
          else need.map(p => p -> filesFor(m.files(p), m, targetBytes)).toMap
        // bucketed OPTIMIZE re-routes by the bucket columns (file count
        // per partition folds to <= numBuckets, each file one tagged
        // bucket). With a byte target, buckets whose budget wants >1
        // file are soft-split by a content-hash salt into several files
        // ALL carrying the same bucket tag (which the bucketed scan
        // groups back into one bucket partition) — rows still never
        // cross buckets.
        val saltsPB: Map[String, Int] =
          if (targetBytes.isEmpty || m.bucketSpec.isEmpty) Map.empty
          else need.iterator.flatMap { p =>
            m.files(p).groupBy(bucketIdOf).collect {
              case (Some(bid), g) =>
                s"$p\u0000$bid" -> filesFor(g, m, targetBytes)
            }.filter(_._2 > 1)
          }.toMap
        val out =
          if (zorderBy.nonEmpty)
            Clustering.rangeCluster(df, zorderBy, clusterFiles * need.size,
              lead = Seq(col("__p")))
          else if (m.bucketSpec.isDefined) df
          else if (saltsOf.values.forall(_ <= 1)) df.repartition(col("__p"))
          else {
            val dataCols = df.columns.filter(_ != "__p").toSeq
            // one task per intended output file: an EXPLICIT task
            // count (AQE would coalesce a tiny exchange back into one
            // task and undo the split) sized to the file budget,
            // range-routed so distinct (partition, salt) groups land
            // in distinct tasks
            val nTasks = math.max(saltsOf.values.map(_.toLong).sum, 1L)
              .min(100000L).toInt
            df.withColumn("__salt",
                pmod(xxhash64(struct(dataCols.map(col): _*)),
                  coalesce(element_at(typedLit(saltsOf), col("__p")), lit(1))
                    .cast("long")))
              .repartitionByRange(nTasks, col("__p"), col("__salt"))
              .drop("__salt")
          }
        Some(stageRewrite(spark, fs, bp, m, out, read, "o", version, attempt,
          statsCols.map(m.phys), rebuildBlooms = true, bucketSalts = saltsPB))
      }
    }
    commitLoop(fs, bp, "OPTIMIZE", maxRetries) { (snap, version, attempt) =>
      val m = snap.getOrElse(Manifest(0L, Map.empty))
      requireCurrentLayout(m, partCol)
      require(zorderBy.isEmpty || m.bucketSpec.isEmpty,
        "clusterBy/ZORDER is incompatible with a bucketed table")
      val live = m.files.valuesIterator.flatten.toSet
      staged.collect {
        case (r, state) if r.read.forall(live) && readState(m, r.read) == state => r
      }.orElse(restage(m, version, attempt)) match {
        case None => Done(0L)
        case Some(r) =>
          staged = Some((r, readState(m, r.read)))
          val next = r.onto(m, partCol, version, "OPTIMIZE")
          onBeforeOptimizeCommit()
          Publish(next, identity)
      }
    }
  }

  /** What a [[deleteWhere]]/[[updateWhere]] did: the committed version
    * (unchanged current version when nothing matched), whether the
    * plan was metadata-only, and which partitions vanished vs were
    * rewritten (for an update, a source partition whose every row
    * moved elsewhere counts as dropped; a destination partition —
    * possibly brand new — as rewritten). */
  final case class DmlOutcome(
      version: Long,
      metadataOnly: Boolean,
      droppedPartitions: Seq[String],
      rewrittenPartitions: Seq[String])

  /** A DML condition too rich for a [[org.apache.spark.sql.Column]] —
    * one containing subqueries (`IN (SELECT …)`, `EXISTS`, …) — carried
    * as a pair of PLAN-LEVEL row selectors instead. Both take a frame
    * holding at least the table's columns (extra bookkeeping columns
    * like file/position ride through untouched) and return the subset
    * the statement's three-valued logic assigns to them:
    *
    *  - `matches`: rows where the condition is TRUE — the rows the
    *    DELETE removes / the UPDATE rewrites;
    *  - `keeps`: rows where it is FALSE **or NULL** — everything else.
    *
    * Carrying BOTH selectors (rather than negating one Column) lets
    * the analyzer's own subquery rewrite produce the correct join for
    * each side — in particular `NOT IN` becomes Spark's null-aware
    * anti join, whose semantics no manual complement reproduces. The
    * two selectors MUST be deterministic and mutually exhaustive; the
    * write paths partition rows between them and would otherwise drop
    * or duplicate rows. */
  final case class PlanPredicate(
      matches: DataFrame => DataFrame,
      keeps: DataFrame => DataFrame)

  /** DELETE every row where `predicate` is TRUE (SQL semantics: FALSE
    * and NULL rows stay) and commit the result as a new version.
    *
    * Two planning paths, chosen by the predicate's column footprint:
    *
    *  - '''Partition predicate''' (resolvable against `partCol` alone):
    *    evaluated on the MANIFEST's partition values — whole partitions
    *    drop out of the new manifest and ZERO data files are read,
    *    rewritten, or removed (the Iceberg/Delta metadata-delete fast
    *    path; exact because every row of a partition shares its partCol
    *    value). Old versions still time-travel to the deleted data;
    *    [[vacuum]] reclaims the files once every referencing version
    *    expires. Evaluation casts the canonical partition strings back
    *    to the live column type, so the usual round-trippable partition
    *    types (dates, years, ints, plain strings) compare correctly.
    *  - '''Row predicate''': one column-pruned scan of the live
    *    snapshot (parquet footer min/max prunes row groups under us)
    *    finds the partitions actually holding matching rows; ONLY those
    *    rewrite, through the same staged `partitionBy` write +
    *    optimistic commit as [[upsertBatch]] — data IO is O(matching
    *    partitions), and a partition whose every row matched vanishes
    *    from the manifest. A lost commit race recomputes from the
    *    winner's state (unlike upsert, the affected set depends on
    *    table state, so staged output cannot be safely reused).
    *
    * `writeCdf` materializes the deleted rows as a typed feed version
    * (`change_type = "delete"` only — a delete cannot insert or
    * update); on the metadata-only path this read of the dropped files
    * is the one data job, and it happens after the commit.
    *
    * Returns None when the table has no committed version. */
  def deleteWhere(
      spark: SparkSession,
      base: String,
      predicate: Column,
      partCol: String,
      maxRetries: Int = 5,
      statsCols: Seq[String] = Nil,
      writeCdf: Boolean = false,
      deletionVectors: Boolean = false,
      dvInlineMax: Int = DvInlineMax,
      matcher: Option[PlanPredicate] = None): Option[DmlOutcome] = {
    // `deletionVectors`: merge-on-read row deletes — matching rows'
    // positions commit as per-file DVs ([[Dv]]) and ZERO data files
    // are rewritten (a 1-row delete in a 10 GB partition costs one
    // manifest commit, not a 10 GB rewrite — the Delta DV / Iceberg
    // positional-delete model). Partition-predicate deletes ignore the
    // flag: dropping whole partitions from the manifest is strictly
    // cheaper than any DV.
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val m0 = readManifest(fs, bp).getOrElse(return None)
    val cdfOn = writeCdf || m0.cdfEnabled
    // row ids are read-side identity metadata, never a data column: on
    // row-tracked tables a snapshot read exposes [[RowIdCol]], which the
    // predicate probe below must not see
    val live0 = readSnapshot(spark, bp, m0, None).drop(RowIdCol)
    val pcs = partColsOf(partCol)
    lazy val partTypes = pcs.map(c =>
      live0.schema(live0.schema.fieldIndex(c)).dataType)
    // every predicate evaluation goes through these two: a Column
    // predicate filters directly; a [[PlanPredicate]] (subquery
    // conditions) delegates to its plan-level selectors
    def matchRows(df: DataFrame): DataFrame =
      matcher.map(_.matches(df)).getOrElse(df.filter(predicate))
    def keepRows(df: DataFrame): DataFrame =
      matcher.map(_.keeps(df))
        .getOrElse(df.filter(!coalesce(predicate, lit(false))))
    // partition-only iff the ANALYZED predicate references partCol
    // alone. The probe frame carries the FULL live schema as typed
    // nulls (emptyDataFrame-derived, so no scan): with every real
    // column present, attribute resolution wins over Spark's
    // literal-function fallback — a predicate on a column named
    // `user`/`current_date` can no longer silently resolve to
    // CURRENT_USER()/CURRENT_DATE() and masquerade as a constant
    // (which once sent a row delete down the partition-metadata path
    // as a no-op). References, not resolution failure, decide.
    val partitionOnly = {
      // matcher conditions probe the same way: the analyzed Filter's
      // references cover a subquery's OUTER attributes (the inner
      // plan's columns are its own), so `o_year IN (SELECT …)` still
      // qualifies for the metadata fast path while a correlated
      // predicate touching a data column forces the row path
      val probe = matchRows(spark.emptyDataFrame.select(
        live0.schema.fields.toSeq.map(f =>
          lit(null).cast(f.dataType).as(f.name)): _*))
      val refs = probe.queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.map(_.name).toSet
      }.getOrElse(Set.empty[String])
      // unpartitioned table: only a reference-free (constant) predicate
      // may take the metadata path — there is no column to evaluate
      // against partition keys (TRUNCATE's literal TRUE still does).
      // Multi-column layouts qualify when every reference is SOME
      // declared partition column (any subset — each key decomposes to
      // all component values, so evaluation is exact).
      if (pcs.isEmpty) refs.isEmpty
      else refs.forall(r => pcs.exists(_.equalsIgnoreCase(r)))
    }

    commitExisting(fs, bp, "DELETE", maxRetries, Some(m0)) { (m, version, attempt) =>
      requireCurrentLayout(m, partCol)
      // mixed-layout tables (partition evolution) skip the
      // partition-metadata fast path: legacy keys do not decompose
      // under the current layout, and matching rows inside legacy
      // partitions need a row-level plan anyway (the DV path below
      // stays valid — deletion vectors are file-level)
      if (partitionOnly && m.legacyKeys.isEmpty) {
        // evaluate against the manifest's partition values only
        val parts = m.files.keySet.toSeq.sorted
        val dropped = {
          val pdf0 = spark.createDataset(parts)(org.apache.spark.sql.Encoders.STRING)
            .toDF("__pv")
          // unpartitioned: the predicate is constant (refs empty), so
          // no typed partition column to materialize
          val pdf =
            if (pcs.isEmpty) pdf0
            else pdf0.select(col("__pv") +:
              partKeyDecompose(col("__pv"), pcs, partTypes): _*)
          matchRows(pdf).select("__pv").collect().map(_.getString(0)).toSeq.sorted
        }
        val gone = dropped.flatMap(p => m.files.getOrElse(p, Nil))
        if (dropped.isEmpty)
          Done(Some(DmlOutcome(m.version, metadataOnly = true, Nil, Nil)))
        else Publish(m.copy(version = version, files = m.files -- dropped,
            stats = m.stats -- gone, blooms = m.blooms -- gone,
            dvs = m.dvs -- gone, op = Some("DELETE")), { v =>
          if (cdfOn) commitCdfVersion(fs, bp, v,
            readFiles(spark, bp, m, gone)
              .withColumn("change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
          Some(DmlOutcome(v, metadataOnly = true, dropped, Nil))
        })
      } else if (deletionVectors) {
        // ---- merge-on-read row delete: commit DVs, rewrite nothing --
        val all = m.allFiles
        val bnToRel = all.map(f => dvKey(f) -> f).toMap
        require(bnToRel.size == all.size,
          "DV delete needs unique <dir>/<file> suffixes across live files " +
            "(Spark part-file names embed the write job's UUID)")
        val raw = toLogical(SnapshotRelation.scanFiles(spark, bp, m,
            all.map(f => f -> fileBytes(m, f)), scanSchema(m, rowIds = false))
          .withColumn("__f", dvKeyCol)
          .withColumn("__pos", col("_metadata.row_index")), m)
        // only still-live rows may match: a position already in a DV is
        // deleted — matching it again would double-count
        val liveRows = dvRows(spark, bp, m, all) match {
          case None => raw
          case Some((dv, allInline)) =>
            raw.join(if (allInline) broadcast(dv) else dv,
              col("__f") === col("__dv_file") && col("__pos") === col("__dv_pos"),
              "left_anti")
        }
        val matchedPos = matchRows(liveRows)
          .select(col("__f"), col("__pos")).persist()
        try {
          // O(affected files) driver metadata, never row-sized
          val newCounts = matchedPos.groupBy("__f").count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          if (newCounts.isEmpty)
            Done(Some(DmlOutcome(m.version, metadataOnly = false, Nil, Nil)))
          else {
            // inline vs sidecar per file: a file stays inline while its
            // TOTAL positions fit [[DvInlineMax]], its existing DV is not
            // already a sidecar, and a global driver budget holds —
            // everything else goes through the fully distributed sidecar
            // write (an arbitrarily large delete never lands positions on
            // the driver)
            var budget = dvInlineMax * 10L
            val decided = newCounts.keys.toSeq.sorted.map { bn =>
              val rel0 = bnToRel(bn)
              val old = m.dvs.get(rel0)
              val total = newCounts(bn) + old.map(_.count).getOrElse(0L)
              val inlineOk = total <= dvInlineMax &&
                old.forall(_.sidecarRel.isEmpty) && total <= budget
              if (inlineOk) budget -= total
              (bn, rel0, old, total, inlineOk)
            }
            val inlineSet = decided.collect { case (bn, _, _, _, true) => bn }.toSet
            val newDvs = collection.mutable.Map.empty[String, Dv]
            if (inlineSet.nonEmpty) {
              val fresh = matchedPos
                .filter(col("__f").isin(inlineSet.toSeq: _*))
                .collect().groupBy(_.getString(0))
                .map { case (bn, rows) => bn -> rows.map(_.getLong(1)) }
              decided.foreach { case (bn, rel0, old, total, inlineOk) =>
                if (inlineOk) {
                  val merged = (old.flatMap(_.inlineB64).map(decodePositions)
                    .getOrElse(Array.empty[Long]) ++ fresh.getOrElse(bn, Array.empty[Long]))
                    .sorted
                  newDvs(rel0) = Dv(total, Some(encodePositions(merged)), None)
                }
              }
            }
            val sidecarDecided = decided.filter(!_._5)
            if (sidecarDecided.nonEmpty) {
              import spark.implicits._
              val scSet = sidecarDecided.map(_._1).toSet
              // old positions of sidecar-bound files union in distributedly
              val olds = sidecarDecided.flatMap { case (bn, rel0, old, _, _) =>
                old.map {
                  case Dv(_, Some(b64), _) =>
                    decodePositions(b64).toSeq.map(bn -> _).toDF("__f", "__pos")
                  case Dv(_, None, Some(sRel)) =>
                    spark.read.schema(DvSidecarSchema).parquet(new Path(bp, sRel).toString)
                      .select(lit(bn).as("__f"), col("pos").as("__pos"))
                  case _ => sys.error("DV without payload")
                }
              }
              val allPos = (matchedPos.filter(col("__f").isin(scSet.toSeq: _*))
                +: olds).reduce(_ unionByName _)
              val scRel = s"_dv/d$version-a$attempt-${
                java.util.UUID.randomUUID.toString.take(8)}"
              allPos.select(col("__f"), col("__pos").as("pos"))
                .repartition(col("__f"))
                .write.partitionBy("__f").parquet(new Path(bp, scRel).toString)
              // dir names carry the Hive-ESCAPED dv key ('/' '=' '%'
              // percent-encode): list and decode rather than re-derive
              val dirByKey = fs.listStatus(new Path(bp, scRel)).toSeq
                .filter(d => d.isDirectory && d.getPath.getName.startsWith("__f="))
                .map(d => dec(d.getPath.getName.stripPrefix("__f=")) ->
                  s"$scRel/${d.getPath.getName}")
                .toMap
              sidecarDecided.foreach { case (bn, rel0, _, total, _) =>
                newDvs(rel0) = Dv(total, None, Some(dirByKey(bn)))
              }
            }
            Publish(m.copy(version = version, dvs = m.dvs ++ newDvs,
                op = Some("DELETE_DV")), { v =>
              if (cdfOn) commitCdfVersion(fs, bp, v,
                matchRows(liveRows).drop("__f", "__pos")
                  .withColumn("change_type", lit("delete"))
                  .withColumn("_commit_version", lit(v)))
              Some(DmlOutcome(v, metadataOnly = false, Nil, Nil))
            })
          }
        } finally matchedPos.unpersist()
      } else {
        // one column-pruned scan of THIS version's files finds the
        // partitions holding matching rows (predicate pushdown skips
        // row groups whose footer bounds exclude it)
        // row ids are read-side identity metadata — a rewrite that let
        // them into the staged frame (or a legacy schema backfill)
        // would turn them into a data column
        val lv = readSnapshot(spark, bp, m, None).drop(RowIdCol)
        // affected partitions under EVERY live layout: a matching row
        // in a legacy (pre-evolution) partition is keyed under its own
        // layout — the current-layout key alone would miss it
        val matched = matchedKeysAllLayouts(matchRows(lv), m, partCol)
        if (matched.isEmpty)
          Done(Some(DmlOutcome(m.version, metadataOnly = false, Nil, Nil)))
        else {
          val preFiles = matched.flatMap(p => m.files.getOrElse(p, Nil))
          val pre = readFiles(spark, bp, m, preFiles)
          // survivors of a rewritten LEGACY partition restage under the
          // current layout (migration)
          val r = stageRewrite(spark, fs, bp, m,
            keepRows(pre).withColumn("__p", partRoute(partCol)), preFiles,
            "d", version, attempt, statsCols.map(m.phys))
          Publish(r.onto(m, partCol, version, "DELETE"), { v =>
            if (cdfOn) commitCdfVersion(fs, bp, v,
              matchRows(pre)
                .withColumn("change_type", lit("delete"))
                .withColumn("_commit_version", lit(v)))
            Some(r.outcome(v, matched))
          })
        }
      }
    }
  }

  /** REPLACE WHERE (Delta's `INSERT INTO … REPLACE WHERE` /
    * `option("replaceWhere", …)`): atomically, in ONE commit, delete
    * every live row where `predicate` is TRUE and insert `rows` — the
    * idempotent-backfill primitive (re-land a day/source/tenant slice:
    * re-running replaces the slice again instead of duplicating it).
    * Enforces Delta's default constraint up front: every incoming row
    * must itself satisfy the predicate, or the "replaced" region and
    * the inserted region would diverge silently.
    *
    * IO is O(affected partitions): one column-pruned scan finds the
    * partitions holding matching rows; those ∪ the batch's partitions
    * restage as survivors ∪ batch (a partition whose every row matched
    * and receives no batch rows vanishes). Row-tracked tables keep
    * survivors' ids through the rewrite (materialized, like OPTIMIZE).
    * CDF emits the replaced rows as deletes and the batch as inserts
    * in one feed version. Returns None when the table has no
    * committed version. */
  def replaceWhere(
      spark: SparkSession,
      base: String,
      rows: DataFrame,
      predicate: Column,
      partCol: String,
      maxRetries: Int = 5,
      statsCols: Seq[String] = Nil,
      writeCdf: Boolean = false,
      txn: Option[(String, Long)] = None): Option[DmlOutcome] = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val m0 = readManifest(fs, bp)
    val cdfOn = writeCdf || m0.exists(_.cdfEnabled)
    val batch = rows.persist()
    try {
      val violations =
        batch.filter(!coalesce(predicate, lit(false))).count()
      require(violations == 0L,
        s"$violations source rows do not satisfy the REPLACE WHERE " +
          "predicate — the replaced region and the insert would diverge")
      val batchParts = batch.select(partRoute(partCol))
        .distinct().collect().map(_.getString(0)).toSeq
      if (m0.isEmpty) return None
      commitExisting(fs, bp, "REPLACE WHERE", maxRetries, m0) { (m, version, attempt) =>
        requireCurrentLayout(m, partCol)
        // idempotent-writer gate (appendBatch's contract): a replayed
        // (appId, version) — a retried dynamic-overwrite backfill —
        // reports the version that already holds it instead of
        // replacing the same region twice
        if (txn.exists { case (a, v) => m.txns.get(a).exists(_ >= v) })
          Done(Some(DmlOutcome(m.version, metadataOnly = true, Nil, Nil)))
        else {
          val lv = readSnapshot(spark, bp, m, None).drop(RowIdCol)
          // matching rows in legacy (pre-evolution) partitions key under
          // their own layout — compute the affected set under every one
          val matchedParts = matchedKeysAllLayouts(
            lv.filter(coalesce(predicate, lit(false))), m, partCol)
          val affected = (matchedParts ++ batchParts).distinct.sorted
          val preFiles = affected.flatMap(p => m.files.getOrElse(p, Nil))
          // survivors keep their row ids through the rewrite (tracked
          // tables): read with ids, carry as the materialized column
          val preAll =
            if (preFiles.isEmpty) lv.limit(0)
            else readFiles(spark, bp, m, preFiles, rowIds = true)
          val mat =
            if (!m.rowTracking) Nil
            else Seq((if (preAll.columns.contains(RowIdCol)) col(RowIdCol)
              else lit(null).cast("long")).as(MatRowIdCol))
          val keepM = preAll.filter(!coalesce(predicate, lit(false)))
            .select(lv.schema.fieldNames.map(col).toSeq ++ mat: _*)
          val insM = alignBatch(batch, lv.schema)
            .select(lv.schema.fieldNames.map(col).toSeq ++
              (if (mat.isEmpty) Nil
               else Seq(lit(null).cast("long").as(MatRowIdCol))): _*)
          val r = stageRewrite(spark, fs, bp, m,
            keepM.unionByName(insM).withColumn("__p", partRoute(partCol)),
            preFiles, "r", version, attempt, statsCols.map(m.phys))
          val next = r.onto(m, partCol, version, "REPLACE_WHERE")
            .copy(txns = m.txns ++ txn)
          Publish(next, { v =>
            if (cdfOn) {
              val del = preAll.filter(coalesce(predicate, lit(false))).drop(RowIdCol)
                .withColumn("change_type", lit("delete"))
              val ins = alignBatch(batch, lv.schema)
                .withColumn("change_type", lit("insert"))
              commitCdfVersion(fs, bp, v,
                del.unionByName(ins).withColumn("_commit_version", lit(v)))
            }
            Some(r.outcome(v, affected))
          })
        }
      }
    } finally batch.unpersist()
  }

  /** UPDATE every row where `predicate` is TRUE: each column in `set`
    * is replaced by its expression (evaluated over the OLD row, SQL
    * UPDATE semantics), cast back to the column's type; FALSE/NULL
    * rows are untouched. Commits the result as a new version.
    *
    * Updates are always a rewrite (the partition column is stored as a
    * real column in every data file, so even a partition-predicate
    * update must rewrite data), but a PRUNED one: a column-pruned scan
    * finds the source partitions holding matching rows AND — when
    * `set` reassigns `partCol` — the destination partitions their rows
    * move to. Only source ∪ destination partitions rewrite; rows whose
    * new partCol value lands in a partition that didn't exist yet
    * create it, and a source partition whose every row moved away
    * vanishes from the manifest. Data IO is O(affected partitions).
    *
    * `writeCdf` emits the Delta CDF update contract: BOTH images of
    * every updated row (`update_preimage` with the old values,
    * `update_postimage` with the new) as one feed version.
    *
    * Every `set` key must be an existing column — this is UPDATE, not
    * add-column evolution (that is [[upsertBatch]]'s job). Returns
    * None when the table has no committed version. */
  def updateWhere(
      spark: SparkSession,
      base: String,
      predicate: Column,
      set: Map[String, Column],
      partCol: String,
      maxRetries: Int = 5,
      statsCols: Seq[String] = Nil,
      writeCdf: Boolean = false,
      matcher: Option[PlanPredicate] = None): Option[DmlOutcome] = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val m0 = readManifest(fs, bp)
    val cdfOn = writeCdf || m0.exists(_.cdfEnabled)
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    // GENERATED ALWAYS AS IDENTITY columns may not be assigned (Delta
    // refuses too) — an arbitrary stored value would collide with a
    // future allocation; BY DEFAULT identity accepts the assignment
    m0.foreach { mm =>
      mm.identityCols.foreach { case (c, _) =>
        require(!set.keys.exists(_.equalsIgnoreCase(c)) ||
            mm.identityAllowsExplicit(c),
          s"cannot UPDATE GENERATED ALWAYS AS IDENTITY column $c")
      }
    }
    if (m0.isEmpty) return None
    def matchRows(df: DataFrame): DataFrame =
      matcher.map(_.matches(df)).getOrElse(df.filter(predicate))
    def keepRows(df: DataFrame): DataFrame =
      matcher.map(_.keeps(df))
        .getOrElse(df.filter(!coalesce(predicate, lit(false))))

    commitExisting(fs, bp, "UPDATE", maxRetries, m0) { (m, version, attempt) =>
      requireCurrentLayout(m, partCol)
      // generated PARTITION columns recompute below under the session
      // clock — enforce the stamped generation timezone (throws on
      // mismatch; the returned first-write stamp is append-path business)
      genTzStamp(spark, m.props, partCol)
      val lv = readSnapshot(spark, bp, m, None).drop(RowIdCol)
      val bad = set.keySet -- lv.columns.toSet
      require(bad.isEmpty, s"updateWhere assigns non-existent columns: $bad")
      // one column-pruned scan: source partitions of matching rows and
      // (when partCol is reassigned) the destinations they move to
      // post-assignment image of a matched row: every SET expression
      // evaluates over the OLD row in one projection (SQL UPDATE
      // semantics — `SET a = b, b = a` swaps), then GENERATED columns
      // not explicitly SET recompute over the assigned values — so an
      // update to a dependency of a generated PARTITION column moves
      // the row to its recomputed partition
      val gensToRecompute = generatedCols(m).filterNot { case (c, _) =>
        set.keys.exists(_.equalsIgnoreCase(c)) }
      def postImage(df: DataFrame, keep: Seq[Column]): DataFrame = {
        val assigned = df.select(keep ++ lv.schema.fields.toSeq.map { f =>
          set.get(f.name).map(_.cast(f.dataType).as(f.name))
            .getOrElse(col(f.name))
        }: _*)
        gensToRecompute.foldLeft(assigned) { case (acc, (c, sql)) =>
          lv.schema.fields.find(_.name.equalsIgnoreCase(c)) match {
            case Some(f) => acc.withColumn(f.name, expr(sql).cast(f.dataType))
            case None => acc
          }
        }
      }
      val affected: Seq[String] =
        if (m.legacyKeys.isEmpty) {
          val pairs = postImage(
            matchRows(lv).withColumn("__gsrc", partRoute(partCol)),
            Seq(col("__gsrc")))
            .select(col("__gsrc").as("__src"),
              partRoute(partCol).as("__dst"))
            .distinct().collect()
          (pairs.map(_.getString(0)) ++ pairs.map(_.getString(1)))
            .distinct.sorted.toSeq
        } else {
          // mixed layout (partition evolution): SOURCE partitions under
          // every live layout (a matching row in a legacy partition is
          // keyed under its own layout), DESTINATIONS under the current
          // one (the rewrite routes there — migration)
          val matchedLv = matchRows(lv)
          val src = matchedKeysAllLayouts(matchedLv, m, partCol)
          val dst = postImage(matchedLv, Nil)
            .select(partRoute(partCol).as("__dst")).distinct()
            .collect().iterator.map(_.getString(0)).filter(_ != null).toSeq
          (src ++ dst).distinct.sorted
        }
      if (affected.isEmpty)
        Done(Some(DmlOutcome(m.version, metadataOnly = false, Nil, Nil)))
      else {
        val preFiles = affected.flatMap(p => m.files.getOrElse(p, Nil))
        val pre = readFiles(spark, bp, m, preFiles)
        val updated = postImage(matchRows(pre), Nil)
        enforceConstraints(updated, m, base)
        // a GENERATED column the statement SETs explicitly skips the
        // recompute above — but the stored value must still satisfy its
        // expression over the post-image, or UPDATE would break the
        // invariant every insert/upsert validates (Delta validates or
        // refuses explicit assignment; we validate). One aggregation
        // pass, null-strict: SET g = NULL where the expression is
        // non-null is a violation too.
        val gensSet = generatedCols(m).filter { case (c, _) =>
          set.keys.exists(_.equalsIgnoreCase(c)) }
        if (gensSet.nonEmpty) {
          val aggs = gensSet.map { case (c, sql) =>
            sum(when(!(col(c) <=> expr(sql)), 1L).otherwise(0L)).as(s"__g_$c") }
          val row0 = updated.agg(aggs.head, aggs.tail: _*).head
          gensSet.zipWithIndex.foreach { case ((c, sql), i) =>
            val bad = if (row0.isNullAt(i)) 0L else row0.getLong(i)
            if (bad > 0) sys.error(
              s"UPDATE sets GENERATED column $c to a value that differs " +
                s"from ($sql) in $bad row(s)")
          }
        }
        val r = stageRewrite(spark, fs, bp, m,
          keepRows(pre).unionByName(updated).withColumn("__p", partRoute(partCol)),
          preFiles, "u", version, attempt, statsCols.map(m.phys))
        Publish(r.onto(m, partCol, version, "UPDATE"), { v =>
          if (cdfOn) {
            val cols = lv.columns.toSeq
            val feed = matchRows(pre)
              .withColumn("change_type", lit("update_preimage"))
              .unionByName(updated
                .withColumn("change_type", lit("update_postimage")))
              .select((cols.map(col) :+ col("change_type")): _*)
            commitCdfVersion(fs, bp, v,
              feed.withColumn("_commit_version", lit(v)))
          }
          Some(r.outcome(v, affected))
        })
      }
    }
  }

  /** Change-data-feed read: every row-level change between two
    * committed versions, typed `change_type` ∈ {insert, delete,
    * update_preimage, update_postimage} — the Delta CDF row contract:
    * inserts carry v2's values, deletes v1's last values, and every
    * update emits BOTH images (consumers like incremental aggregate
    * maintenance need the pre-image to retract the old contribution).
    * Computed from two pinned manifest reads and ONE full-outer join on
    * the key (no row-level event log is stored — the immutable
    * manifests ARE the history, so any version pair diffs on demand).
    * v1's rows align to v2's schema (added columns backfill NULL, the
    * same evolution rule the writers use). None unless both versions'
    * manifests still exist (expiry removes old ones).
    *
    * Scale: the diff is PARTITION-PRUNED from the manifests alone —
    * data files are immutable, so a partition whose file list is
    * identical in both manifests cannot contribute a change
    * ([[changedPartitions]]), and only differing partitions' files are
    * read on either side. Diffing adjacent versions after a
    * partition-scoped upsert therefore costs O(changed partitions) of
    * data IO, not O(table); the full-v2 read below contributes only
    * its (union, evolution-aware) schema — no data task runs on it.
    * The join shuffles on the key like any MERGE. */
  def diffVersions(
      spark: SparkSession,
      base: String,
      keys: Seq[String],
      v1: Long,
      v2: Long): Option[DataFrame] = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    for {
      m1 <- readManifestAt(fs, bp, v1)
      m2 <- readManifestAt(fs, bp, v2)
      b0 <- readVersion(spark, base, v2).map(_.drop(RowIdCol))
    } yield {
      val changed = changedPartitions(m1, m2)
      def side(m: Manifest): DataFrame = {
        val files = changed.flatMap(p => m.files.getOrElse(p, Nil))
        val raw =
          if (files.isEmpty) b0.limit(0)
          else readFiles(spark, bp, m, files)
        val have = raw.columns.toSet
        raw.select(b0.schema.fields.toSeq.map { f =>
          if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
      }
      changeFeed(side(m1), side(m2), keys)
    }
  }

  /** The partitions that can possibly differ between two versions:
    * those whose live file lists are not identical, or whose files'
    * deletion vectors changed (a DV commit alters a partition's ROWS
    * without touching its file list). Exact-superset-safe because data
    * files are immutable once committed — same files + same DVs ⇒
    * same rows. */
  def changedPartitions(m1: Manifest, m2: Manifest): Seq[String] =
    (m1.files.keySet ++ m2.files.keySet).toSeq.sorted.filter { p =>
      val f1 = m1.files.getOrElse(p, Nil).sorted
      val f2 = m2.files.getOrElse(p, Nil).sorted
      f1 != f2 || f1.exists(f => m1.dvs.get(f) != m2.dvs.get(f))
    }

  /** The CDF join: pre-state vs post-state (same schema) full-outer on
    * the key, each joined row exploding into 0 (unchanged — the
    * unmatched `when` yields NULL, which explode drops), 1
    * (insert/delete), or 2 (update pre+post) feed rows. */
  private[sources] def changeFeed(
      a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = b.columns.toSeq
    val aS = a.select(
      keys.zipWithIndex.map { case (k, i) => col(k).as(s"__ak$i") } :+
        struct(cols.map(col): _*).as("__a"): _*)
    val bS = b.select(
      keys.zipWithIndex.map { case (k, i) => col(k).as(s"__bk$i") } :+
        struct(cols.map(col): _*).as("__b"): _*)
    val cond = keys.indices.map(i => col(s"__ak$i") === col(s"__bk$i"))
      .reduce(_ && _)
    def row(side: Column, ct: String): Column =
      struct(cols.map(n => side.getField(n).as(n)) :+
        lit(ct).as("change_type"): _*)
    aS.join(bS, cond, "full_outer")
      .select(explode(
        when(col("__a").isNull, array(row(col("__b"), "insert")))
          .when(col("__b").isNull, array(row(col("__a"), "delete")))
          .when(!(col("__a") <=> col("__b")),
            array(row(col("__a"), "update_preimage"),
              row(col("__b"), "update_postimage")))).as("__r"))
      .select(cols.map(n => col(s"__r.$n").as(n)) :+
        col("__r.change_type").as("change_type"): _*)
  }

  // ---------------------------------------------------------------------
  // Materialized change-data-feed (the Delta `_change_data` idea): each
  // committed version's feed is written ONCE, at commit time, under
  //   table/_cdf/v<version>/part-*.parquet   (+ a `_commit_version` col)
  // derived from the (pre, post) state of the AFFECTED partitions only —
  // O(changed partitions), never a full-table diff. The dir appears by
  // atomic rename from a hidden staging name, so a tailing reader never
  // sees a half-written version. Consumers tail it with the BUILT-IN
  // file streaming source ([[tailCdf]]): offsets/checkpointing/replay
  // are Structured Streaming's, not bespoke. A crash between manifest
  // commit and feed write leaves a GAP, not corruption — [[repairCdf]]
  // reconstructs any missing version from the manifests via
  // [[diffVersions]] (the manifests remain the source of truth).
  // ---------------------------------------------------------------------

  private def cdfDir(base: Path) = new Path(base, "_cdf")
  private def cdfVName(v: Long) = f"v$v%011d"

  /** The operation that committed version `v` ([[Manifest.op]]) — one
    * root-manifest read, zero data IO. None when the commit named no
    * operation.
    * Metadata plane: the streaming row-feed mode uses it to classify a
    * commit as append vs change without opening its feed. */
  def opAt(spark: SparkSession, base: String, v: Long): Option[String] = {
    val bp = new Path(base)
    readRoot(fsFor(spark, bp), bp, v).flatMap(_.op)
  }

  /** Per committed version in `vs`: (version, operation — UNKNOWN when
    * the commit named none, whether its live files or deletion vectors
    * differ from the previous committed version's). The streaming row
    * feed's commit classification: every root from the one below
    * `vs.min` up to `vs.max` is read once; the file-list comparison
    * (which loads shards on a sharded table) runs only where
    * `compare(op)` holds, and reads false elsewhere. The answer keeps
    * the roots it decoded, so the caller's manifest reads of those
    * versions open no root again. */
  private[graft] def commitChanges(
      fs: FileSystem, base: Path, vs: Seq[Long],
      compare: String => Boolean): CommitChanges =
    if (vs.isEmpty) new CommitChanges(fs, base, Nil, Set.empty, compare)
    else {
      // newest first, down to the first committed root below vs.min
      val below = listedVersions(fs, base).filter(_ <= vs.max).sorted.reverseIterator
        .flatMap(readRoot(fs, base, _))
      val roots = {
        val (in, out) = below.span(_.version >= vs.min)
        (in.toSeq ++ out.nextOption()).reverse
      }
      new CommitChanges(fs, base, roots, vs.toSet, compare)
    }

  /** [[commitChanges]]'s answer over the roots it read, oldest first. */
  private[graft] final class CommitChanges private[SnapshotLog] (
      fs: FileSystem, base: Path, roots: Seq[ManifestCodec.Root],
      want: Set[Long], compare: String => Boolean) {
    private val byVersion = roots.map(r => r.version -> r).toMap
    private val held = collection.mutable.Map.empty[Long, Option[Manifest]]

    /** The manifest at `v`, built from the root already decoded when
      * the classification read it. */
    def manifestAt(v: Long): Option[Manifest] = held.getOrElseUpdate(v,
      byVersion.get(v).fold(readManifestAt(fs, base, v))(r => Some(manifest(fs, base, r, None))))

    /** (version, operation, whether a compared commit changed the live
      * files or deletion vectors), per wanted version. */
    val classed: Seq[(Long, String, Boolean)] = {
      def files(v: Long) = manifestAt(v).map(m => (m.files, m.dvs))
      roots.zip(None +: roots.map(Some(_))).collect {
        case (r, prev) if want(r.version) =>
          val op = r.op.getOrElse("UNKNOWN")
          (r.version, op,
            compare(op) && !prev.exists(p => files(p.version) == files(r.version)))
      }
    }
  }

  /** Rows a version's commit ADDED: the data files version `v` holds
    * that its predecessor `prev` does not, read under v's manifest
    * (column mapping of the day, aligned to v's schema header). The
    * streaming ROW FEED's batch primitive — append commits stream
    * straight from committed data files, no materialized `_cdf`
    * required (Delta's row-feed contract: appends stream without CDF).
    * `prev = None` treats every file as added (version 1, or an
    * expired predecessor at the head of the committed list). Appends
    * never carry DVs on their new files, so the plain file read IS the
    * commit's insert set. */
  def appendedRows(
      spark: SparkSession, base: String,
      prev: Option[Long], v: Long): Option[DataFrame] = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    readManifestAt(fs, bp, v).map(m =>
      appendedRows(spark, base, prev.flatMap(readManifestAt(fs, bp, _)), m))
  }

  /** [[appendedRows]] over manifests the caller already holds. */
  private[graft] def appendedRows(
      spark: SparkSession, base: String,
      prev: Option[Manifest], m: Manifest): DataFrame = {
    val prevFiles = prev.map(_.allFiles.toSet).getOrElse(Set.empty[String])
    val added = m.allFiles.filterNot(prevFiles)
    if (added.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema.get)
    else readFiles(spark, new Path(base), m, added)
  }

  def cdfVersions(fs: FileSystem, base: Path): Seq[Long] = {
    val dir = cdfDir(base)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
      .filter(_.startsWith("v")).map(_.stripPrefix("v").toLong).sorted
  }

  /** Bytes a feed version will hand a streaming micro-batch — the
    * admission-control weight behind `maxBytesPerBatch` (Delta's
    * maxBytesPerTrigger). Change feed: the materialized `_cdf/v<N>`
    * dir's parquet bytes (one listing). Row feed: the data files `v`
    * holds that its predecessor does not, lengths from manifest stats
    * ([[ByteSizeKey]]). Metadata plane only — no data file is opened. */
  def feedVersionBytes(
      fs: FileSystem, base: Path, v: Long, changeFeed: Boolean): Long =
    if (changeFeed) {
      val d = new Path(cdfDir(base), cdfVName(v))
      if (!fs.exists(d)) 0L
      else fs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    } else readManifestAt(fs, base, v).map { m =>
      // the predecessor by walking down from v: no `_log` listing
      val prevFiles = rootBelow(fs, base, v)
        .map(manifest(fs, base, _, None).allFiles.toSet)
        .getOrElse(Set.empty[String])
      m.allFiles.filterNot(prevFiles).map(fileBytes(m, _)).sum
    }.getOrElse(0L)

  /** Write one version's feed and publish it by rename; loses cleanly
    * (keeps the existing dir) if the version is already materialized —
    * e.g. a concurrent [[repairCdf]] got there first. */
  private def commitCdfVersion(
      fs: FileSystem, base: Path, v: Long, feed: DataFrame): Unit = {
    val target = new Path(cdfDir(base), cdfVName(v))
    if (fs.exists(target)) return
    val tmp = new Path(cdfDir(base),
      s".tmp-${cdfVName(v)}-${java.util.UUID.randomUUID.toString.take(8)}")
    feed.write.parquet(tmp.toString)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, true)
      if (!fs.exists(target)) throw new IllegalStateException(
        s"could not publish CDF version $v under ${cdfDir(base)}")
    }
  }

  /** Batch read of the whole materialized feed (all versions). */
  def readCdf(spark: SparkSession, base: String): Option[DataFrame] = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val vs = cdfVersions(fs, bp)
    if (vs.isEmpty) None
    else Some(spark.read.option("mergeSchema", "true").parquet(
      vs.map(v => new Path(cdfDir(bp), cdfVName(v)).toString): _*))
  }

  /** Ranged batch feed read — Delta's `startingVersion`/`endingVersion`
    * CDF options (both INCLUSIVE; absent bounds default to the feed's
    * ends). Fails LOUDLY when the range contains committed versions
    * without a materialized feed (silently skipping them would
    * under-deliver changes; [[repairCdf]] backfills the gaps). An
    * in-range set with no feed versions at all answers the empty frame
    * in the feed schema. None iff the table has no feed AND no
    * committed schema to type the empty frame with. */
  def readCdfRange(
      spark: SparkSession, base: String,
      lo: Option[Long], hi: Option[Long]): Option[DataFrame] = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val all = cdfVersions(fs, bp)
    val committed = committedVersions(fs, bp)
    // absent lower bound = the whole MATERIALIZED feed (readCdf
    // semantics — a table that enabled CDF late reads its feed without
    // tripping the gap check); an EXPLICIT startingVersion demands
    // every committed version from there on have its feed
    val l = lo.getOrElse(all.headOption.getOrElse(1L))
    val h = hi.getOrElse(
      math.max(all.lastOption.getOrElse(1L), committed.lastOption.getOrElse(1L)))
    require(l <= h, s"startingVersion $l > endingVersion $h")
    val have = all.filter(v => v >= l && v <= h)
    val missing = committed.filter(v => v >= l && v <= h).toSet -- have.toSet
    require(missing.isEmpty,
      s"$base: committed version(s) ${missing.toSeq.sorted.take(10).mkString(", ")} " +
        s"in [$l, $h] have no materialized change feed — enable " +
        s"$CdfProp before writing, or backfill with repairCdf")
    if (have.nonEmpty)
      Some(spark.read.option("mergeSchema", "true").parquet(
        have.map(v => new Path(cdfDir(bp), cdfVName(v)).toString): _*))
    else readManifest(fs, bp).flatMap(_.schema).map { sc =>
      val full = org.apache.spark.sql.types.StructType(sc.fields.toSeq :+
        org.apache.spark.sql.types.StructField("change_type",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), full)
    }
  }

  /** The feed as a STREAM: the built-in parquet file source tailing
    * `_cdf/v*` — new committed versions are picked up as new files on
    * the glob, offsets and exactly-once file tracking come from
    * Structured Streaming's checkpoint, and downstream delta-aggregation
    * is order-insensitive by construction (signed retractions commute).
    * The schema is pinned by the caller (file streams require it). */
  def tailCdf(
      spark: SparkSession,
      base: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(schema)
    (if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger)
    else r).parquet(new Path(cdfDir(new Path(base)), "v*").toString)
  }

  /** Reconstruct missing feed versions from the manifests. Version 1 is
    * the initial load (all rows `insert`); later versions diff against
    * their predecessor — impossible only if the predecessor was expired,
    * in which case the gap is permanent and reported. Returns the
    * versions repaired. */
  def repairCdf(spark: SparkSession, base: String, keys: Seq[String]): Seq[Long] = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val have = cdfVersions(fs, bp).toSet
    val committed = committedVersions(fs, bp)
    if (committed.isEmpty) return Nil
    committed.filterNot(have).flatMap { v =>
      val feed =
        if (v == committed.min)
          readVersion(spark, base, v).map(df =>
            df.drop(RowIdCol).withColumn("change_type", lit("insert")))
        else diffVersions(spark, base, keys, v - 1, v)
      feed.map { f =>
        commitCdfVersion(fs, bp, v, f.withColumn("_commit_version", lit(v)))
        v
      }
    }
  }

  /** INTEROP EXPORT (Delta's `GENERATE symlink_format_manifest`): write
    * the LIVE snapshot's file list as Hive-symlink manifests —
    * `_symlink_format_manifest/<partition value>/manifest`, one
    * absolute file URI per line — so engines that speak the
    * symlink-manifest contract (Presto/Trino/Athena-style external
    * tables) can read the exact committed snapshot without
    * understanding the commit log. Returns the number of partitions
    * exported; the export is a plain read artifact and never
    * participates in the commit protocol (re-generate after commits,
    * exactly Delta's contract).
    *
    * Refused loudly on snapshots a file list CANNOT represent — a
    * deletion-vector-carrying table would resurrect deleted rows
    * through a symlink reader (Delta's GENERATE has the same
    * restriction). Column-mapped tables export physical parquet names
    * by design: the external reader sees what is on disk. The same
    * what-is-on-disk caveat applies to ROW-TRACKED tables: files
    * written after an id-materializing rewrite (OPTIMIZE / REPLACE
    * WHERE) physically carry the internal [[MatRowIdCol]]
    * (`__graft_row_id_mat`) column, and a symlink reader will see it
    * as a data column — external schemas should select columns
    * explicitly or strip `__graft_*` names. */
  def generateSymlinkManifest(spark: SparkSession, base: String): Long = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val m = readManifest(fs, bp).getOrElse(
      sys.error(s"$base has no committed version to export"))
    require(m.dvs.isEmpty,
      s"$base carries deletion vectors — a symlink manifest cannot " +
        "represent them (a reader would resurrect deleted rows); " +
        "OPTIMIZE first to materialize the deletes")
    val root = new Path(bp, "_symlink_format_manifest")
    // wipe-and-rewrite: stale partition dirs from a previous export of
    // since-dropped partitions must not survive
    if (fs.exists(root)) fs.delete(root, true)
    m.files.toSeq.sortBy(_._1).foreach { case (part, fls) =>
      val out = fs.create(new Path(new Path(root, part), "manifest"), true)
      try out.write(
        fls.sorted.map(f => fs.makeQualified(new Path(bp, f)).toString)
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    m.files.size.toLong
  }

  /** DESCRIBE HISTORY: one row per committed version, newest first —
    * version, commit timestamp (the root's in-commit `#ts` stamp),
    * the operation that produced it ([[Manifest.op]]; UNKNOWN when
    * the commit named none),
    * live partition/file counts, and the metadata row count when
    * every file carries one (−1 otherwise). O(versions) manifest
    * reads, zero data-file IO — an audit/debug surface, not a hot
    * path. */
  def history(spark: SparkSession, base: String): DataFrame = {
    val bp = new Path(base)
    import spark.implicits._
    // one read per root; every count is a root rollup (pointer lines
    // on sharded and two-level roots, so no side file ever opens)
    mapCommitted(fsFor(spark, bp), bp) { r =>
      val t = r.totals
      (r.version, new java.sql.Timestamp(r.commitTs(bp)),
        r.op.getOrElse("UNKNOWN"), t.nParts, t.nFiles, t.nDv, t.nRows)
    }.reverse.toDF("version", "timestamp", "operation",
      "n_partitions", "n_files", "n_deleted_rows", "n_rows")
  }

  /** Per-partition (name, nFiles, liveRows) of the newest committed
    * version — from the ROOT manifest's pointer rollups alone on a
    * sharded table (zero shard opens), from the manifest lines
    * otherwise. `liveRows` is −1 when any file lacks a recorded
    * count. The SHOW PARTITIONS fast path. */
  def partitionSummary(
      fs: FileSystem, base: Path): Seq[(String, Long, Long)] =
    rootBelow(fs, base, currentVersion(fs, base) + 1).toSeq
      .flatMap(r => partitions(fs, base, r))
      .map { case (p, ru) => (p, ru.nFiles, ru.nRows) }

  /** SHALLOW CLONE: commit version 1 of a NEW table at `dstBase`
    * referencing the SOURCE's current data files by absolute path —
    * zero data copied, O(manifest) work (the Delta SHALLOW CLONE).
    * Stats, blooms, deletion vectors, schema, and constraints all
    * carry over (re-keyed to the absolute paths). The clone then
    * lives its own life COPY-ON-WRITE: any write rewrites only the
    * touched partitions into the clone's own `data/` dir, untouched
    * partitions keep reading the source's files, and the clone's
    * vacuum can never reclaim them (they live outside its tree).
    * Caveat (same as Delta's): vacuuming/expiring the SOURCE can
    * invalidate files a clone still references — clones are for
    * dev/test forks, not archival. */
  def cloneTable(
      spark: SparkSession, srcBase: String, dstBase: String): Long = {
    val sbp = new Path(srcBase)
    val dbp = new Path(dstBase)
    val fs = fsFor(spark, sbp)
    val m = readManifest(fs, sbp).getOrElse(
      sys.error(s"clone source $srcBase has no committed version"))
    require(readManifest(fs, dbp).isEmpty,
      s"clone destination $dstBase already exists")
    def abs(rel: String): String =
      fs.makeQualified(new Path(sbp, rel)).toUri.getPath
    val files = m.files.map { case (p, fls) => p -> fls.map(abs).sorted }
    val next = Manifest(
      version = 1L,
      files = files,
      stats = m.stats.map { case (f, st) => abs(f) -> st },
      blooms = m.blooms.map { case (f, bl) => abs(f) -> bl },
      dvs = m.dvs.map { case (f, dv) =>
        abs(f) -> dv.copy(sidecarRel = dv.sidecarRel.map(abs))
      },
      schemaJson = m.schemaJson,
      op = Some("CLONE"),
      constraints = m.constraints,
      // a stream's progress against the SOURCE says nothing about the
      // clone — carrying watermarks over would make a stream pointed at
      // the clone silently skip its first batches (Delta drops them too)
      txns = Map.empty,
      // properties DO clone (Delta copies them): the fork should behave
      // like the source until told otherwise
      props = m.props,
      // column mapping and tombstones describe the shared physical
      // files — the clone reads them through the same translation
      colmap = m.colmap,
      dropped = m.dropped)
    if (!tryCommit(fs, dbp, next))
      sys.error(s"clone destination $dstBase already has a version claim")
    1L
  }

  /** DEEP clone: materialize the source's CURRENT snapshot as an
    * independent table — every live data file (and DV sidecar) is
    * COPIED under the destination, so the clone survives the source
    * being vacuumed, restored, or deleted (Delta's `CREATE TABLE …
    * CLONE` deep form; [[cloneTable]] is the zero-copy shallow form).
    *
    * File identity: basenames are preserved (prefixed `c<k>-` for
    * uniqueness across source dirs) because a bucketed table's
    * `_NNNNN` tag lives in the file NAME — Spark's bucket-id parse and
    * this format's per-bucket maintenance both keep working on the
    * copied layout. Stats and blooms re-key to the copied paths
    * verbatim (same bytes → same bounds). Source absolute paths (a
    * shallow-clone source) normalize to destination-relative copies,
    * so deep-cloning a shallow clone MATERIALIZES it. Stream
    * watermarks do not carry over (the [[cloneTable]] rationale);
    * properties, constraints, column mapping, and tombstones do.
    *
    * Scale note: the copy is driver-looped per file — the metadata
    * plane owns the loop but the bytes stream through the FileSystem
    * API; at cluster scale you'd distribute the copy, but the manifest
    * rewrite (the part this format owns) is O(files) strings either
    * way. */
  def deepCloneTable(
      spark: SparkSession, srcBase: String, dstBase: String): Long = {
    val sbp = new Path(srcBase)
    val dbp = new Path(dstBase)
    val fs = fsFor(spark, sbp)
    val dfs = fsFor(spark, dbp)
    val m = readManifest(fs, sbp).getOrElse(
      sys.error(s"clone source $srcBase has no committed version"))
    require(readManifest(dfs, dbp).isEmpty,
      s"clone destination $dstBase already exists")
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = s"data/clone1-${java.util.UUID.randomUUID.toString.take(8)}"
    var k = -1
    def copyInto(rel: String): String = {
      k += 1
      val src = new Path(sbp, rel) // absolute `rel` resolves to itself
      val dstRel = s"$dir/c$k-${src.getName}"
      val dst = new Path(dbp, dstRel)
      if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, dfs, dst,
          false, false, conf))
        sys.error(s"deep clone failed copying $src -> $dst")
      dstRel
    }
    // deterministic mapping order (manifest maps are unordered)
    val fileMap: Map[String, String] = m.files.toSeq.sortBy(_._1)
      .flatMap(_._2.sorted).map(f => f -> copyInto(f)).toMap
    val next = Manifest(
      version = 1L,
      files = m.files.map { case (p, fls) => p -> fls.map(fileMap).sorted },
      stats = m.stats.collect {
        case (f, st) if fileMap.contains(f) => fileMap(f) -> st
      },
      blooms = m.blooms.collect {
        case (f, bl) if fileMap.contains(f) => fileMap(f) -> bl
      },
      dvs = m.dvs.collect {
        case (f, dv) if fileMap.contains(f) =>
          fileMap(f) -> dv.copy(sidecarRel = dv.sidecarRel.map(copyInto))
      },
      schemaJson = m.schemaJson,
      op = Some("DEEP CLONE"),
      constraints = m.constraints,
      txns = Map.empty,
      props = m.props,
      colmap = m.colmap,
      dropped = m.dropped)
    if (!tryCommit(dfs, dbp, next))
      sys.error(s"clone destination $dstBase already has a version claim")
    1L
  }

  /** Enforce `m`'s CHECK constraints on an incoming batch in ONE
    * aggregation pass (SQL CHECK semantics: a row violates only when
    * the expression is definitively FALSE — NULL passes). Throws with
    * per-constraint violation counts; a batch is all-or-nothing. */
  private def enforceConstraints(
      df: DataFrame, m: Manifest, base: String): Unit = {
    if (m.constraints.isEmpty) return
    val cs = m.constraints.toSeq.sortBy(_._1)
    val aggs = cs.map { case (n, sql) =>
      sum(when(coalesce(expr(sql).cast("boolean"), lit(true)) === false, 1L)
        .otherwise(0L)).as(s"__c_${n}")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val bad = cs.zipWithIndex.collect {
      case ((n, sql), i) if !row.isNullAt(i) && row.getLong(i) > 0L =>
        s"$n CHECK ($sql) rejects ${row.getLong(i)} row(s)"
    }
    if (bad.nonEmpty) sys.error(
      s"CHECK constraint violation writing to $base: ${bad.mkString("; ")}")
  }

  /** ADD a named CHECK constraint: validates the EXISTING data first
    * (Delta semantics — a constraint the live table already violates
    * is rejected with the violation count), then commits a
    * metadata-only version carrying it. Every subsequent write batch
    * is gated on it until [[dropConstraint]]. */
  def addConstraint(
      spark: SparkSession, base: String, name: String, checkSql: String,
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "ADD CONSTRAINT", maxRetries) { (m, _, _) =>
      require(!m.constraints.contains(name),
        s"constraint $name already exists on $base")
      val live = readSnapshot(spark, bp, m, None)
      enforceConstraints(live, m.copy(constraints = Map(name -> checkSql)),
        base)
      Publish(m.copy(constraints = m.constraints + (name -> checkSql),
        op = Some("ADD_CONSTRAINT")), identity)
    }
  }

  /** CREATE TABLE (empty, schema-first): commit an empty snapshot
    * whose manifest carries the declared schema and properties — the
    * catalog's `CREATE TABLE` / the first half of a non-atomic CTAS.
    * Goes through [[tryCommit]] like every other commit, so a racing
    * creator loses cleanly (returns false → table already exists).
    * Refuses a base that already has ANY committed version: CREATE
    * never clobbers history (use appendBatch/replaceWhere to write). */
  def createTable(
      spark: SparkSession,
      base: String,
      schema: org.apache.spark.sql.types.StructType,
      props: Map[String, String] = Map.empty): Boolean = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    if (readManifest(fs, bp).isDefined) return false
    val version = nextVersion(fs, bp, 0L)
    tryCommit(fs, bp, Manifest(
      version, Map.empty,
      schemaJson = Some(StructTypeNullable(schema)),
      op = Some("CREATE TABLE"),
      props = props))
  }

  /** SET (merge) table properties — metadata-only commit. An empty or
    * identical update still commits a version (the audit trail records
    * the statement, Delta-style). */
  def setProperties(
      spark: SparkSession, base: String, kvs: Map[String, String],
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "SET TBLPROPERTIES", maxRetries) { (m, _, _) =>
      // bucket spec can only be declared while the table has no data
      // files: existing files lack the `_NNNNN` bucket tag, and a
      // mixed layout would fail the bucketed scan outright. (UNSET is
      // always safe — tags are just part of the file name.)
      if (kvs.keySet.exists(k => k == BucketCountProp || k == BucketColsProp)
          && m.allFiles.nonEmpty
          && (m.props.get(BucketCountProp) != (m.props ++ kvs).get(BucketCountProp)
            || m.props.get(BucketColsProp) != (m.props ++ kvs).get(BucketColsProp)))
        sys.error("bucket spec must be declared while the table is " +
          s"empty — $base already has ${m.allFiles.size} data file(s) " +
          "without bucket tags")
      // identity likewise: existing rows' values are unknown to the
      // high-water, so a late declaration could re-allocate ids that
      // are already in the table
      if (m.allFiles.nonEmpty && kvs.exists { case (k, v) =>
            k.startsWith(IdentityPrefix) &&
              !k.startsWith(IdentityHighWaterPrefix) &&
              !m.props.get(k).contains(v) })
        sys.error("IDENTITY columns must be declared while the table " +
          s"is empty — $base already has data whose values the " +
          "high-water mark cannot account for")
      Publish(m.copy(props = m.props ++ kvs, op = Some("SET_TBLPROPERTIES")), identity)
    }
  }

  /** ADD COLUMNS — metadata-only schema evolution: the manifest's
    * schema header widens (new fields nullable, appended), ZERO data
    * files touched. Existing rows read the new columns as NULL
    * (parquet backfills missing columns). A re-added name whose
    * identity physical slot is tombstoned (DROP COLUMN) or claimed
    * (RENAME target) maps to a FRESH physical name — old files' bytes
    * under the old slot must never resurrect as the new column's
    * values. Returns the committed version. */
  def addColumns(
      spark: SparkSession, base: String,
      newCols: org.apache.spark.sql.types.StructType,
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "ADD COLUMNS", maxRetries) { (m, version, _) =>
      val cur = m.schema.get
      val dups = newCols.fieldNames.filter(n =>
        cur.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(dups.isEmpty,
        s"column(s) already exist on $base: ${dups.mkString(", ")}")
      val evolved = org.apache.spark.sql.types.StructType(
        cur.fields ++ newCols.fields.map(_.copy(nullable = true)))
      val freshMap = newCols.fieldNames.toSeq
        .filter(n => m.taintedPhys.contains(n))
        .map(n => n -> s"${n}__c$version").toMap
      Publish(m.copy(schemaJson = Some(evolved.json), op = Some("ADD_COLUMNS"),
        colmap = m.colmap ++ freshMap), identity)
    }
  }

  /** ADD a NESTED field — `ALTER TABLE t ADD COLUMNS (s.x INT)`:
    * the parent path must resolve to a (possibly nested) struct, the
    * new leaf appends nullable, and the commit is metadata-only —
    * files older than the ADD simply lack the subfield and read it as
    * NULL (the parquet clipped-schema contract; [[conform]] fills the
    * gap on internal rewrite reads). A re-added name whose identity
    * physical slot is tombstoned or claimed WITHIN THE PARENT STRUCT
    * ([[scopeTainted]]) maps to a fresh physical name — old files'
    * bytes under the old slot must never resurrect (the same rule
    * top-level [[addColumns]] enforces, scoped per struct). */
  def addNestedColumn(
      spark: SparkSession, base: String,
      path: Seq[String], field: org.apache.spark.sql.types.StructField,
      maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(path.size >= 2, "addNestedColumn needs a nested path " +
      "(parent.field); use addColumns for top-level columns")
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "ADD COLUMNS", maxRetries) { (m, version, _) =>
      val cur = m.schema.get
      def addAt(st: StructType, p: Seq[String]): StructType = p match {
        case Seq(leaf) =>
          require(!st.fieldNames.exists(_.equalsIgnoreCase(leaf)),
            s"field '$leaf' already exists at ${path.init.mkString(".")}")
          StructType(st.fields :+
            StructField(leaf, field.dataType, nullable = true))
        case step +: rest =>
          val i = st.fields.indexWhere(_.name.equalsIgnoreCase(step))
          require(i >= 0, s"no such column: $step (of ${path.mkString(".")})")
          st.fields(i).dataType match {
            case inner: StructType =>
              StructType(st.fields.updated(i,
                st.fields(i).copy(dataType = addAt(inner, rest))))
            case other => sys.error(
              s"$step is $other, not a struct — cannot add a nested field")
          }
      }
      val evolved = addAt(cur, path)
      // resurrection-proof physical slot: a tainted identity name maps
      // to a fresh physical name within the parent struct
      val parentLog = path.init.mkString(".")
      val leafLog = path.mkString(".")
      val freshMap =
        if (scopeTainted(m, parentLog, path.last))
          Map(leafLog -> s"${path.last}__c$version")
        else Map.empty[String, String]
      Publish(m.copy(schemaJson = Some(evolved.json), op = Some("ADD_COLUMNS"),
        colmap = m.colmap ++ freshMap), identity)
    }
  }

  /** RENAME a NESTED field (`meta.name → meta.nm`) as a METADATA-ONLY
    * commit via NESTED column mapping: the logical schema renames the
    * leaf and a dotted-path colmap entry re-points it at the UNCHANGED
    * physical subfield — zero files rewritten; deeper mappings and
    * tombstones under the renamed path re-key with it. Refused
    * conservatively when a CHECK constraint or GENERATED column
    * references the path's TOP-LEVEL column (their stored SQL could
    * address the old nested name). Delta gates the same operation
    * behind column mapping. */
  def renameNestedColumn(
      spark: SparkSession, base: String,
      path: Seq[String], to: String,
      maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types.StructType
    require(path.size >= 2, "renameNestedColumn needs a nested path " +
      "(parent.field); use renameColumn for top-level columns")
    require(!to.contains('.') && to.nonEmpty, s"invalid field name '$to'")
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "nested RENAME COLUMN", maxRetries) { (m, _, _) =>
      val cur = m.schema.get
      constraintsReferencing(m, path.head).foreach(n => sys.error(
        s"constraint $n references ${path.head}; drop it first"))
      generatedEntangled(m, path.head).foreach(g => sys.error(
        s"GENERATED column $g involves ${path.head}; UNSET it first"))
      def renameAt(st: StructType, p: Seq[String]): StructType = p match {
        case Seq(leaf) =>
          val i = st.fields.indexWhere(_.name.equalsIgnoreCase(leaf))
          require(i >= 0, s"no such field: ${path.mkString(".")}")
          require(!st.fieldNames.exists(_.equalsIgnoreCase(to)),
            s"field '$to' already exists at ${path.init.mkString(".")}")
          StructType(st.fields.updated(i, st.fields(i).copy(name = to)))
        case step +: rest =>
          val i = st.fields.indexWhere(_.name.equalsIgnoreCase(step))
          require(i >= 0, s"no such column: $step (of ${path.mkString(".")})")
          st.fields(i).dataType match {
            case inner: StructType =>
              StructType(st.fields.updated(i,
                st.fields(i).copy(dataType = renameAt(inner, rest))))
            case other => sys.error(
              s"$step is $other, not a struct — cannot rename inside it")
          }
      }
      val evolved = renameAt(cur, path)
      val oldLog = path.mkString(".")
      val newLog = (path.init :+ to).mkString(".")
      // the physical leaf stays what it was (mapped or identity)
      val physLeaf = m.colmap.getOrElse(oldLog, path.last)
      // deeper mappings keyed under the renamed path re-key with it
      val rekeyed = m.colmap.map {
        case (k, v) if k == oldLog => (newLog, v)
        case (k, v) if k.startsWith(oldLog + ".") =>
          (newLog + k.stripPrefix(oldLog), v)
        case kv => kv
      }
      val colmap =
        if (physLeaf == to) rekeyed - newLog
        else rekeyed + (newLog -> physLeaf)
      Publish(m.copy(schemaJson = Some(StructTypeNullable(evolved)),
        op = Some("RENAME_COLUMN"), colmap = colmap), identity)
    }
  }

  /** DROP a NESTED field as a METADATA-ONLY commit: the logical schema
    * loses the leaf and its PHYSICAL dotted path is tombstoned — the
    * bytes stay in the files, the scan schema never requests them
    * again, and a later re-ADD of the same name maps to a fresh
    * physical slot ([[addNestedColumn]]'s [[scopeTainted]] rule) so
    * the dropped values can never resurrect. Time travel to a pre-drop
    * version still reads the field; RESTORE brings it back. */
  def dropNestedColumn(
      spark: SparkSession, base: String,
      path: Seq[String],
      maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types.StructType
    require(path.size >= 2, "dropNestedColumn needs a nested path " +
      "(parent.field); use dropColumn for top-level columns")
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "nested DROP COLUMN", maxRetries) { (m, _, _) =>
      val cur = m.schema.get
      constraintsReferencing(m, path.head).foreach(n => sys.error(
        s"constraint $n references ${path.head}; drop it first"))
      generatedEntangled(m, path.head).foreach(g => sys.error(
        s"GENERATED column $g involves ${path.head}; UNSET it first"))
      def dropAt(st: StructType, p: Seq[String]): StructType = p match {
        case Seq(leaf) =>
          require(st.fieldNames.exists(_.equalsIgnoreCase(leaf)),
            s"no such field: ${path.mkString(".")}")
          require(st.fields.length > 1,
            s"cannot drop the only field of ${path.init.mkString(".")}")
          StructType(st.fields.filterNot(_.name.equalsIgnoreCase(leaf)))
        case step +: rest =>
          val i = st.fields.indexWhere(_.name.equalsIgnoreCase(step))
          require(i >= 0, s"no such column: $step (of ${path.mkString(".")})")
          st.fields(i).dataType match {
            case inner: StructType =>
              StructType(st.fields.updated(i,
                st.fields(i).copy(dataType = dropAt(inner, rest))))
            case other => sys.error(
              s"$step is $other, not a struct — cannot drop inside it")
          }
      }
      val evolved = dropAt(cur, path)
      val logPath = path.mkString(".")
      val physPath = physPathOf(m, logPath)
      // the dropped subtree's own mappings die with it
      val colmap = m.colmap.filterNot { case (k, _) =>
        k == logPath || k.startsWith(logPath + ".") }
      Publish(m.copy(schemaJson = Some(StructTypeNullable(evolved)),
        op = Some("DROP_COLUMN"), colmap = colmap,
        dropped = m.dropped + physPath), identity)
    }
  }

  /** UNSET table properties by key — metadata-only commit. */
  def unsetProperties(
      spark: SparkSession, base: String, keys: Seq[String],
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "UNSET TBLPROPERTIES", maxRetries) { (m, _, _) =>
      Publish(m.copy(props = m.props -- keys, op = Some("UNSET_TBLPROPERTIES")), identity)
    }
  }

  /** DROP a named CHECK constraint — metadata-only commit. */
  def dropConstraint(
      spark: SparkSession, base: String, name: String,
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    commitExisting(fsFor(spark, bp), bp, "DROP CONSTRAINT", maxRetries) { (m, _, _) =>
      require(m.constraints.contains(name),
        s"no constraint named $name on $base")
      Publish(m.copy(constraints = m.constraints - name,
        op = Some("DROP_CONSTRAINT")), identity)
    }
  }

  /** RESTORE: roll the table back to committed version `toVersion` by
    * committing its manifest CONTENT as a brand-new version — history
    * is append-only (the bad versions stay queryable for audit; Delta
    * RESTORE semantics), and the data files are shared, not copied
    * (vacuum keeps every committed version's files, so the restored
    * snapshot's files are guaranteed present as long as `toVersion`
    * itself is). A restore is metadata-only: O(manifest) IO, zero
    * data-file reads. Returns the new version. */
  def restoreTable(
      spark: SparkSession, base: String, toVersion: Long,
      maxRetries: Int = 5): Long = {
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val target = readManifestAt(fs, bp, toVersion).getOrElse(
      sys.error(s"RESTORE target version $toVersion does not exist " +
        s"(expired or never committed) on $base"))
    commitExisting(fs, bp, "RESTORE", maxRetries) { (cur, _, _) =>
      if (cur.version == toVersion) Done(toVersion) // already there
      else {
        // txn watermarks must NEVER move backwards (a rolled-back
        // watermark would make a restarting stream re-apply batches the
        // table already absorbed) — merge key-wise max with the current
        // state instead of restoring the old map verbatim
        val txns = (cur.txns.keySet ++ target.txns.keySet).iterator.map { a =>
          a -> math.max(cur.txns.getOrElse(a, Long.MinValue),
            target.txns.getOrElse(a, Long.MinValue))
        }.toMap
        Publish(target.copy(op = Some("RESTORE"), txns = txns), identity)
      }
    }
  }

  /** Expire every committed version older than the newest `keepLast`,
    * deleting their manifests. Returns the expired version numbers.
    *
    * For a CDC sink committing per micro-batch, `_log` listing and
    * never-reclaimable data both grow without bound otherwise: a file
    * replaced at version N stays referenced by version N−1's manifest
    * forever, so [[vacuum]] can never touch it. Expiry severs exactly
    * those references; a vacuum afterwards reclaims the files ONLY
    * expired versions referenced. Time travel to expired versions is
    * gone by design; the retained versions (and the live read) are
    * byte-identical before and after. The newest version is never
    * expired (`keepLast >= 1`). */
  def expireVersions(spark: SparkSession, base: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must retain at least the live version")
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val dir = logDir(bp)
    if (!fs.exists(dir)) return Nil
    val versions = listedVersions(fs, bp).sorted
    val expire = versions.dropRight(keepLast)
    expire.foreach(v => fs.delete(new Path(dir, vName(v)), false))
    // the change feed of an expired version goes with its manifest:
    // feed retention is COUPLED to version retention (Delta's CDF
    // cleanup contract), or a CDC sink committing per micro-batch
    // grows `_cdf/` without bound even under regular expiry
    expire.foreach { v =>
      val d = new Path(cdfDir(bp), cdfVName(v))
      if (fs.exists(d)) fs.delete(d, true)
    }
    expire
  }

  /** Delete data files no manifest version references (crashed commits
    * leave them; they were never visible). Keeps all committed
    * manifests' files, so time-travel reads of old versions survive.
    *
    * `retentionMs` guards concurrent writers: an in-flight
    * `upsertBatch`/`optimizeTable` has written its data files but
    * not yet committed the manifest that references them — deleting
    * those would make the imminent commit point at nothing. Only
    * unreferenced files whose modification time is older than
    * `retentionMs` are reclaimed; set it to comfortably exceed the
    * longest possible write job (the 24h default is the
    * Delta/Iceberg convention). `retentionMs = 0` reclaims
    * everything unreferenced and is safe ONLY with no concurrent
    * writers (tests, single-writer maintenance windows).
    *
    * DV sidecars are vacuumed by the same rule: a parquet file under
    * `_dv/` survives iff some manifest's DV field references its
    * `__f=` directory (a lost DV-commit race or an expired version
    * orphans the whole sidecar dir, exactly like an orphaned data
    * file). */
  def vacuum(
      spark: SparkSession,
      base: String,
      retentionMs: Long = 24L * 3600 * 1000,
      dryRun: Boolean = false): Long = {
    // `dryRun`: count (and age-check) exactly what a real pass would
    // reclaim, delete nothing — the operator's pre-flight.
    val bp = new Path(base)
    val fs = fsFor(spark, bp)
    val dir = logDir(bp)
    if (!fs.exists(dir)) return 0L
    // side files referenced by ANY root (pointer groups directly,
    // shard files directly or through a referenced group) and every
    // data file or DV sidecar any root or shard file on disk mentions
    val refs = references(fs, bp)
    var removed = 0L
    val cutoff = System.currentTimeMillis() - retentionMs
    // listFiles returns scheme-qualified paths; relativize against the
    // equally-qualified base or the prefix strip silently no-ops
    val qBase = fs.makeQualified(bp).toString
    def sweep(sub: String, keep: String => Boolean): Unit = {
      val d = new Path(bp, sub)
      if (!fs.exists(d)) return
      val it = fs.listFiles(d, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) {
          val rel = st.getPath.toString.stripPrefix(qBase).stripPrefix("/")
          if (rel.endsWith(".parquet") && !keep(rel) &&
              st.getModificationTime <= cutoff) {
            if (!dryRun) fs.delete(st.getPath, false)
            removed += 1
          }
        }
      }
    }
    sweep("data", refs.files.contains)
    // sidecar sweep at `__f=` GRANULARITY: within a `_dv/<job>` dir,
    // each per-file subdir goes (recursively) as soon as NO manifest
    // references it and its files aged past retention — a job dir
    // whose vectors were superseded one file at a time reclaims
    // incrementally instead of pinning the whole dir until its last
    // reference rotates. The job dir itself (write markers, _SUCCESS)
    // follows once its last `__f=` child is gone.
    def agedFileCount(p: Path): Option[Long] = {
      var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) {
          n += 1
          if (st.getModificationTime > cutoff) return None
        }
      }
      Some(n)
    }
    val dvRoot = new Path(bp, "_dv")
    if (fs.exists(dvRoot)) {
      fs.listStatus(dvRoot).filter(_.isDirectory).foreach { job =>
        val jobRel = job.getPath.toString.stripPrefix(qBase).stripPrefix("/")
        fs.listStatus(job.getPath)
          .filter(c => c.isDirectory && c.getPath.getName.startsWith("__f="))
          .foreach { ch =>
            val rel = s"$jobRel/${ch.getPath.getName}"
            if (!refs.dvDirs.contains(rel)) agedFileCount(ch.getPath).foreach { n =>
              if (!dryRun) fs.delete(ch.getPath, true)
              removed += n
            }
          }
        val hasChildren = fs.listStatus(job.getPath)
          .exists(c => c.isDirectory && c.getPath.getName.startsWith("__f="))
        if (!hasChildren) agedFileCount(job.getPath).foreach { n =>
          if (!dryRun) fs.delete(job.getPath, true)
          removed += n
        }
      }
    }
    // orphaned SIDE files (shards s*.txt, pointer groups g*.txt,
    // spilled watermarks t*.txt): written before a root that lost its
    // commit race (or whose root was expired) — reclaim once
    // unreferenced and aged, same contract as data files
    fs.listStatus(dir)
      .filter(st => st.isFile && ManifestCodec.isSideFile(st.getPath.getName))
      .foreach { st =>
        if (!refs.sideFiles(st.getPath.getName) && st.getModificationTime <= cutoff) {
          if (!dryRun) fs.delete(st.getPath, false)
          removed += 1
        }
      }
    // crashed atomic-commit temps (`_log/.tmp-v…`): a writer that died
    // between staging its root text and the link/rename publish —
    // referenced by nothing, reclaim once aged
    fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp-"))
      .foreach { st =>
        if (st.getModificationTime <= cutoff) {
          if (!dryRun) fs.delete(st.getPath, false)
          removed += 1
        }
      }
    // ORPHANED change-feed versions: a `_cdf/v<N>` whose manifest no
    // longer exists (expired without the coupled cleanup, or a raced
    // writer that published a feed for a version that never committed)
    // and crashed `.tmp-*` staging dirs — both reclaim once aged past
    // retention. A feed for a LIVE version is never touched: the
    // retention window also covers the commit→publish gap (the feed
    // lands moments after its manifest, always younger than cutoff).
    val cdfRoot = cdfDir(bp)
    if (fs.exists(cdfRoot)) {
      val live = committedVersions(fs, bp).toSet
      fs.listStatus(cdfRoot).filter(_.isDirectory).foreach { d =>
        val n = d.getPath.getName
        val orphan = n.startsWith(".tmp-") ||
          (n.startsWith("v") && n.drop(1).toLongOption.exists(!live(_)))
        if (orphan) agedFileCount(d.getPath).foreach { cnt =>
          if (!dryRun) fs.delete(d.getPath, true)
          removed += cnt
        }
      }
    }
    removed
  }
}
