package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{
  ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.SnapshotLog

/** Structured-Streaming source DIRECTLY over the commit log, with
  * MANIFEST VERSIONS as offsets — the Delta streaming model. Each
  * micro-batch is the change feed of a contiguous version range
  * `(start, end]`; the engine checkpoints the version watermark, and
  * because committed versions and their materialized feeds are
  * immutable, any range re-read after a crash returns byte-identical
  * rows — exactly-once delivery of version ranges across restarts
  * comes from determinism, not sink-side dedup.
  *
  * Contrast with [[SnapshotLog.tailCdf]] (q74), which tails `_cdf`
  * through the generic FILE stream source: that works, but its
  * offsets are file sets — version semantics ("resume from v7",
  * batch boundaries aligned to commits) exist only here.
  *
  * Rows carry the CDF contract: the table's columns plus
  * `change_type` ∈ {insert, delete, update_preimage,
  * update_postimage} and `_commit_version`. The stream schema comes
  * from the manifest header (O(manifest), no data-file reads); the
  * table must materialize its feed (`writeCdf = true` writers, or
  * [[SnapshotLog.repairCdf]]) — the same contract q74 established.
  *
  * Implemented as a v1 [[Source]] — the same API Delta's own
  * streaming source uses — because `getBatch` returning a DataFrame
  * lets a version range map straight onto a manifest-pruned batch
  * read of the feed directories; the v2 `MicroBatchStream` would
  * re-implement the parquet reader per partition for no added
  * capability on this path. */
object CommitLogStream {

  /** The stream's row schema for a table at `base`: table columns
    * + the CDF columns. */
  def cdfSchema(spark: SparkSession, base: String): StructType =
    StructType(tableSchema(spark, base).fields.toSeq :+
      StructField("change_type", StringType, nullable = true) :+
      StructField("_commit_version", LongType, nullable = true))

  /** Row-feed schema: the table columns alone, from the newest
    * manifest's schema header. */
  def tableSchema(spark: SparkSession, base: String): StructType = {
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLog.readManifest(fs, bp).getOrElse(
      sys.error(s"commit-log stream needs a committed table at $base"))
      .schema.get
  }

  /** Shared constructor for the v1 streaming sources registered under
    * BOTH names (`graft` and the legacy `graft-commitlog`).
    *
    * `startingVersion` accepts a number or `"latest"` (Delta's
    * tail-only mode: deliver nothing committed before the stream
    * started). `initialSnapshot = true` (row feed only) bootstraps a
    * new consumer in ONE stream: the first micro-batch carries the
    * full DV-correct snapshot as of stream start, then the tail
    * follows — a checkpointed restart never re-delivers the snapshot
    * (it only applies when no start offset exists). A CHANGE-FEED
    * stream on a table with neither CDF enabled nor any materialized
    * feed fails fast here instead of silently delivering zero rows
    * forever. */
  def sourceFor(
      spark: SparkSession,
      schema: Option[StructType],
      parameters: Map[String, String]): Source = {
    val base = parameters.getOrElse("path",
      sys.error("graft streaming needs .option(\"path\", <table dir>) or .load(<dir>)"))
    val changeFeed = parameters.get("readChangeFeed").exists(_.trim.toBoolean)
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (changeFeed &&
        !SnapshotLog.readManifest(fs, bp).exists(_.cdfEnabled) &&
        SnapshotLog.cdfVersions(fs, bp).isEmpty)
      sys.error(s"$base: readChangeFeed stream needs the change feed — " +
        s"set ${SnapshotLog.CdfProp} = true (or write with writeCdf) " +
        "first; a CDF-less table would stream zero rows forever. The " +
        "default ROW feed streams appends without CDF.")
    val startingVersion = parameters.get("startingVersion").map(_.trim) match {
      case Some(s0) if s0.equalsIgnoreCase("latest") =>
        // tail-only: nothing committed before the stream started
        SnapshotLog.committedVersions(fs, bp).lastOption.getOrElse(0L) + 1L
      case Some(s0) => s0.toLong
      case None => 1L
    }
    val initialSnapshot =
      parameters.get("initialSnapshot").exists(_.trim.toBoolean)
    require(!(initialSnapshot && changeFeed),
      "initialSnapshot is a row-feed option — the change feed already " +
        "carries the table's history as typed changes")
    new CommitLogSource(spark, base,
      schema.getOrElse(
        if (changeFeed) cdfSchema(spark, base) else tableSchema(spark, base)),
      parameters.get("maxVersionsPerBatch").map(_.toInt).getOrElse(0),
      startingVersion,
      changeFeed = changeFeed,
      skipChangeCommits =
        parameters.get("skipChangeCommits").exists(_.trim.toBoolean),
      initialSnapshot = initialSnapshot,
      maxBytesPerBatch =
        parameters.get("maxBytesPerBatch").map(parseBytes).getOrElse(0L))
  }

  /** `maxBytesPerBatch` spellings: a plain byte count or a `k`/`m`/`g`
    * suffix (Delta's maxBytesPerTrigger forms). */
  def parseBytes(s0: String): Long = {
    val s = s0.trim.toLowerCase
    val (num, mult) = s.last match {
      case 'k' => (s.dropRight(1), 1L << 10)
      case 'm' => (s.dropRight(1), 1L << 20)
      case 'g' => (s.dropRight(1), 1L << 30)
      case _ => (s, 1L)
    }
    val n = num.toLongOption.getOrElse(
      sys.error(s"maxBytesPerBatch: unparseable byte count '$s0'"))
    require(n > 0, s"maxBytesPerBatch must be positive, got '$s0'")
    n * mult
  }

  def schemaFor(
      spark: SparkSession,
      schema: Option[StructType],
      parameters: Map[String, String]): StructType = {
    val base = parameters.getOrElse("path",
      sys.error("graft streaming needs .option(\"path\", <table dir>) or .load(<dir>)"))
    schema.getOrElse(
      if (parameters.get("readChangeFeed").exists(_.trim.toBoolean))
        cdfSchema(spark, base)
      else tableSchema(spark, base))
  }
}

/** `spark.readStream.format(classOf[CommitLogSourceProvider].getName)
  * .option("path", table).load()` */
class CommitLogSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-commitlog"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      sys.error("graft-commitlog needs .option(\"path\", <commit-log table dir>)"))

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      CommitLogStream.cdfSchema(sqlContext.sparkSession, pathOf(parameters))))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new CommitLogSource(sqlContext.sparkSession, pathOf(parameters),
      schema.getOrElse(
        CommitLogStream.cdfSchema(sqlContext.sparkSession, pathOf(parameters))),
      parameters.get("maxVersionsPerBatch").map(_.toInt).getOrElse(0),
      parameters.get("startingVersion").map(_.toLong).getOrElse(1L),
      maxBytesPerBatch = parameters.get("maxBytesPerBatch")
        .map(CommitLogStream.parseBytes).getOrElse(0L))
}

/** @param startingVersion first commit version a FRESH stream (no
  *        checkpoint) delivers — Delta's `startingVersion`. Catch-up
  *        from the table's whole history is the default (1); a
  *        restarted stream ignores this and resumes from its
  *        checkpointed offset, exactly like Delta.
  * @param changeFeed true = CDF rows (table columns + `change_type` +
  *        `_commit_version`, Delta's `readChangeFeed`); false = the
  *        ROW feed: table-schema rows of APPEND commits only — a
  *        commit that changed existing data (DELETE/UPDATE/MERGE/
  *        OVERWRITE/REPLACE) fails the stream unless
  *        `skipChangeCommits` (Delta's contract: silently treating a
  *        change as an append would double- or under-count downstream).
  *        The commit class comes from the manifest's `#op` header —
  *        metadata, no feed read.
  * @param skipChangeCommits row-feed mode only: skip non-append
  *        commits entirely instead of failing (Delta's
  *        `skipChangeCommits`).
  * @param initialSnapshot row-feed mode only: a FRESH stream's first
  *        batch is the full snapshot as of stream start (DV-correct,
  *        version-pinned), then the tail follows — Delta's
  *        initial-snapshot bootstrap. Checkpointed restarts never
  *        re-deliver it (the snapshot path only fires when no start
  *        offset exists). */
class CommitLogSource(
    spark: SparkSession,
    base: String,
    override val schema: StructType,
    maxVersionsPerBatch: Int = 0,
    startingVersion: Long = 1L,
    changeFeed: Boolean = true,
    skipChangeCommits: Boolean = false,
    initialSnapshot: Boolean = false,
    maxBytesPerBatch: Long = 0L)
  extends Source with SupportsTriggerAvailableNow {

  /** Commit classes whose manifest delta is pure inserts — safe for
    * the row feed. COPY INTO and streaming sinks commit as APPEND;
    * CONVERT's version 1 adopts every file as new rows. */
  private val AppendOps = Set("APPEND", "WRITE", "CONVERT")

  private val bp = new Path(base)
  private def fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed versions, kept across polls: an idle trigger opens
    * no manifest root, and one after k commits opens those k. */
  private val log = new SnapshotLog.CommitTail(bp)

  /** Offset source: the CHANGE feed tails materialized `_cdf` versions;
    * the ROW feed tails COMMITTED MANIFEST versions directly, so it
    * works on tables that never enabled CDF (Delta's contract — the
    * round-12 ADVICE finding: the old `_cdf`-derived offsets made a
    * CDF-less row feed silently deliver nothing forever). */
  private def feedVersions: Seq[Long] =
    if (changeFeed) SnapshotLog.cdfVersions(fs, bp)
    else log.versions(fs)

  /** Version the initial snapshot pins to — resolved ONCE at source
    * construction (stream start). */
  private val snapshotV: Option[Long] =
    if (!initialSnapshot) None
    else log.versions(fs).lastOption

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => sys.error(s"unexpected offset type: $other")
  }

  /** Admission-control watermark: the highest offset this source has
    * HANDED OUT (via getOffset or a replayed getBatch) — each trigger
    * may advance at most `maxVersionsPerBatch` past it. Tracking
    * returned (not committed) offsets is the v1 pattern the old
    * FileStreamSource's maxFilesPerTrigger uses: the engine's commit
    * lags the poll, and capping off the commit would re-offer the same
    * window and stall `processAllAvailable`. */
  @volatile private var lastReturned: Long = startingVersion - 1L

  /** Per-version byte weights, memoized — a committed version's feed
    * bytes are immutable, so each candidate is weighed (two manifest
    * reads on the row path) exactly ONCE per source lifetime instead
    * of on every getOffset poll: a long catch-up would otherwise pay
    * O(pending²) driver metadata reads. */
  private val versionBytes =
    scala.collection.concurrent.TrieMap.empty[Long, Long]

  /** Newest feed version — the stream's high-water mark. CDF feeds
    * publish by atomic rename AFTER their manifest commit, and a
    * manifest version is only listed once footer-complete, so a
    * version never appears here before its data is whole.
    * `maxVersionsPerBatch` caps how far one micro-batch may advance —
    * the admission-control knob (Delta's maxFilesPerTrigger analog)
    * that keeps a long catch-up from becoming one giant batch. An
    * initial-snapshot stream's first offer never lands BELOW the
    * snapshot version (the snapshot must be one batch, not sliced by
    * admission control). */
  override def getOffset: Option[Offset] = {
    // under Trigger.AvailableNow, versions past the prepared bound are
    // invisible to THIS run (the next one's business) — filtering here
    // keeps the lastReturned watermark consistent with what is offered
    val vs = feedVersions.filter(v => availableNowBound.forall(v <= _))
    if (vs.isEmpty) snapshotV.map(LongOffset(_))
    else {
      val off0 =
        if (maxVersionsPerBatch <= 0 && maxBytesPerBatch <= 0L) vs.last
        else {
          var next = vs.filter(_ > lastReturned)
          if (maxVersionsPerBatch > 0) next = next.take(maxVersionsPerBatch)
          // byte-weighted admission (Delta's maxBytesPerTrigger): stop
          // BEFORE the version that would push the batch past the cap,
          // but always admit at least one so the stream can't stall on
          // a single oversized commit. Weights are metadata-plane
          // ([[SnapshotLog.feedVersionBytes]]) — no data file opened.
          if (maxBytesPerBatch > 0L && next.nonEmpty) {
            var acc = 0L
            val keep = Seq.newBuilder[Long]
            var n = 0
            val it = next.iterator
            var stop = false
            while (it.hasNext && !stop) {
              val v = it.next()
              val b = versionBytes.getOrElseUpdate(v,
                SnapshotLog.feedVersionBytes(fs, bp, v, changeFeed))
              if (n == 0 || acc + b <= maxBytesPerBatch) {
                keep += v; acc += b; n += 1
              } else stop = true
            }
            next = keep.result()
          }
          if (next.isEmpty) lastReturned else next.last
        }
      val off = math.max(off0, snapshotV.getOrElse(Long.MinValue))
      lastReturned = math.max(lastReturned, off)
      Some(LongOffset(off))
    }
  }

  // ---- Trigger.AvailableNow (SupportsTriggerAvailableNow) --------------
  //
  // WITHOUT this trait, Spark wraps a V1 source in
  // AvailableNowSourceWrapper, which captures getOffset ONCE at stream
  // start as "everything available". Under admission control
  // (maxVersionsPerBatch / maxBytesPerBatch) that captured offset is
  // only the FIRST capped slice — the run delivers one batch and
  // terminates believing it caught up, silently dropping the rest of
  // the backfill (spec-pinned in CommitLogStreamSpec). Implementing
  // the trait directly (Delta's own pattern: a V1 Source that is also
  // SupportsAdmissionControl) makes the engine drive batch after
  // capped batch until the HIGH-WATER captured here, then terminate.

  /** Newest feed version at AvailableNow stream start — the bound this
    * run must reach, then stop at (commits landing after the prepare
    * are the NEXT run's business). None outside AvailableNow. */
  @volatile private var availableNowBound: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val newest = math.max(
      feedVersions.lastOption.getOrElse(Long.MinValue),
      snapshotV.getOrElse(Long.MinValue))
    availableNowBound =
      if (newest == Long.MinValue) Some(startingVersion - 1L)
      else Some(newest)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def versionOfV2(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }

  /** Admission-controlled poll (the engine calls this instead of
    * [[getOffset]] once the trait is present): our caps live inside
    * [[getOffset]], which under AvailableNow also clamps to the
    * prepared bound — so the run walks capped batch after capped
    * batch up to the high-water, then terminates. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    // absorb the engine's restart offset — recovery may poll before
    // the replayed getBatch re-establishes the watermark
    Option(startOffset).foreach(o =>
      lastReturned = math.max(lastReturned, versionOfV2(o)))
    getOffset.map(o => LongOffset(versionOf(o))).orNull
  }

  override def reportLatestOffset(): OffsetV2 =
    feedVersions.lastOption.map(LongOffset(_)).orNull

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // no checkpointed start = the stream's FIRST batch: begin at
    // startingVersion instead of the table's origin
    val lo0 = start.map(versionOf).getOrElse(startingVersion - 1L)
    val hi = versionOf(end)
    // a replayed batch after restart re-establishes the watermark
    lastReturned = math.max(lastReturned, hi)
    // initial snapshot applies only to the checkpoint-less FIRST batch:
    // its rows are the snapshot at snapshotV, the tail then starts past
    // that version. A restarted stream has a start offset and skips
    // this branch entirely — no re-delivered snapshot.
    val snapshotPart: Option[DataFrame] =
      if (start.isEmpty) snapshotV.map { sv =>
        SnapshotLog.readVersion(spark, base, sv).getOrElse(
          sys.error(s"$base: snapshot version $sv expired mid-stream"))
          .drop(graft.sources.SnapshotLog.RowIdCol)
      } else None
    val lo = snapshotPart.fold(lo0)(_ => math.max(lo0, snapshotV.get))
    val feed = feedVersions
    val versions0 = feed.filter(v => v > lo && v <= hi)
    // row-feed mode: classify each commit from its manifest
    // (metadata-only reads, one per root) — appends stream; commits
    // that touched no data files at all (SET TBLPROPERTIES, ANALYZE,
    // constraint and schema DDL) are silent no-ops; commits that
    // rewrote or deleted data fail or skip per the option
    val classified =
      if (changeFeed) None
      else Some(SnapshotLog.commitChanges(fs, bp, versions0, !AppendOps(_)))
    val versions = classified.fold(versions0) { c =>
      val changes = c.classed.collect { case (v, op, true) => (v, op) }
      if (changes.nonEmpty && !skipChangeCommits)
        throw new IllegalStateException(
          s"$base: stream found non-append commit(s) " +
            changes.map { case (v, op) => s"v$v=$op" }.mkString(", ") +
            " — the row feed cannot represent changed rows; read with " +
            "option(\"readChangeFeed\", \"true\") or skip them with " +
            "option(\"skipChangeCommits\", \"true\")")
      c.classed.collect { case (v, op, _) if AppendOps(op) => v }
    }
    def align(raw: org.apache.spark.sql.DataFrame) = {
      val have = raw.columns.toSet
      raw.select(schema.fields.toSeq.map { f =>
        if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val tail =
      if (versions.isEmpty) empty
      else if (changeFeed) {
        val dirs = versions.map(v => new Path(bp, f"_cdf/v$v%011d").toString)
        align(spark.read.option("mergeSchema", "true").parquet(dirs: _*))
      } else {
        // each append's rows are its manifest's file DELTA vs the
        // previous COMMITTED version (the row feed's own versions) —
        // works with or without CDF. Each manifest is built once, from
        // the root the classification already read: consecutive
        // versions share theirs
        val at = classified.get.manifestAt _
        versions.map { v =>
          val prev = feed.filter(_ < v).lastOption.flatMap(at)
          at(v).fold(empty)(m => align(SnapshotLog.appendedRows(spark, base, prev, m)))
        }.reduce(_ unionByName _)
      }
    val batch = snapshotPart.map(sp => align(sp).unionByName(tail)).getOrElse(tail)
    // v1 sources must hand MicroBatchExecution an isStreaming=true
    // frame (the engine asserts it); the constructor for that is
    // private[sql], reached through the compile-time shim so a moved
    // seam fails at build, not inside a user's stream.
    org.apache.spark.sql.GraftSqlShim.internalDf(
      spark, batch.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def stop(): Unit = ()
}
