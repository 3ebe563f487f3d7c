package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.SnapshotLog

/** Structured-Streaming SINK into the commit-log table format — the
  * write half of the streaming story ([[CommitLogSourceProvider]] is
  * the read half): `df.writeStream.format(classOf[CommitLogSinkProvider]
  * .getName).option("path", base).option("partCol", …)`.
  *
  * Exactly-once, not at-least-once: Structured Streaming's contract is
  * that after a failure the LAST micro-batch may be re-delivered to
  * `addBatch` with the same `batchId`. The sink threads
  * `(appId, batchId)` into the commit as a transaction watermark
  * ([[SnapshotLog.Manifest.txns]], the Delta SetTransaction idea); a
  * replayed batch is detected inside the optimistic-commit loop and
  * skipped, so the table absorbs every batch exactly once — across
  * restarts, and even against a concurrent duplicate writer (two
  * drivers running the same checkpoint: the commit race has one
  * winner, the loser sees the recorded watermark on retry and no-ops).
  *
  * `appId` defaults to the streaming query's id (stable across
  * restarts from the same checkpoint — the right identity for
  * exactly-once) and can be overridden with the `appId` option (e.g.
  * to make a REPLACED query, new checkpoint, resume the same
  * watermark lineage).
  *
  * Two write shapes, chosen by the `keys` option:
  *  - absent → each micro-batch APPENDS ([[SnapshotLog.appendBatch]]):
  *    the event-log shape, O(batch) work per trigger.
  *  - present (comma-separated) → each micro-batch MERGES latest-wins
  *    by key ([[SnapshotLog.upsertBatch]]): the CDC-materialization
  *    shape. With `opCol` set the batch is a full CDC stream (op ∈
  *    {U, D}; D rows delete their key). Only the partitions a batch
  *    touches are rewritten — per-trigger cost tracks the batch's
  *    partition spread, not table size.
  *
  * Reference behavior re-expressed: the reference lands streams by
  * buffering to files and bulk-loading on a timer
  * (/root/reference/infrastructure/main.tf:374-408 Step Function
  * polling + sql/ddl_staging.sql:40-43 COPY). Here the landing zone IS
  * a queryable, time-travelable table, and a crashed loader can never
  * double-load a batch.
  */
class CommitLogSinkProvider extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    def req(k: String): String = parameters.getOrElse(k,
      sys.error(s"graft-snapshot sink requires option '$k'"))
    val keys = parameters.get("keys").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    new CommitLogSink(
      path = req("path"),
      partCol = req("partCol"),
      keys = keys,
      orderCol = parameters.get("orderCol"),
      opCol = parameters.get("opCol"),
      appIdOpt = parameters.get("appId"),
      statsCols = parameters.get("statsCols").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      writeCdf = parameters.get("cdf").exists(_.toBoolean),
      autoCompactFiles = parameters.get("autoCompactFiles")
        .map(_.toInt).getOrElse(0))
  }
}

/** @param autoCompactFiles when > 0, after each committed batch any
  *        partition whose live file count exceeds this threshold is
  *        folded down in one OPTIMIZE commit
  *        ([[SnapshotLog.optimizeTable]]) — the
  *        small-files answer for streaming ingest (Delta's
  *        autoCompact): micro-batches land fast, and the file count
  *        per partition stays bounded by the threshold instead of
  *        growing one file per trigger. Compaction commits are
  *        row-preserving, so a crash between the batch commit and its
  *        compaction costs nothing — the next trigger retries. */
class CommitLogSink(
    path: String,
    partCol: String,
    keys: Seq[String],
    orderCol: Option[String],
    opCol: Option[String],
    appIdOpt: Option[String],
    statsCols: Seq[String],
    writeCdf: Boolean,
    autoCompactFiles: Int = 0) extends Sink {

  require(keys.nonEmpty || opCol.isEmpty,
    "opCol (CDC delete markers) requires keys — append mode has no key semantics")

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    // the engine sets the query id as a local property on the stream
    // execution thread addBatch runs on — the stable-across-restarts
    // identity the watermark needs
    val appId = appIdOpt
      .orElse(Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
      .getOrElse(sys.error(
        "graft-snapshot sink: no 'appId' option and no streaming query id " +
          "on this thread — set appId when calling addBatch outside a query"))
    // the incoming frame is streaming-rooted; writers reject it — re-root
    // the SAME physical plan as a batch frame (zero extra work)
    val batch = GraftSqlShim.internalDf(
      spark, data.queryExecution.toRdd, data.schema, isStreaming = false)
    if (keys.isEmpty)
      // propsAdd: a sink-created table records its partition column
      // (existing values win inside appendBatch, so a concurrent ALTER
      // is never undone)
      SnapshotLog.appendBatch(spark, path, batch, partCol, batchId,
        overwrite = false, maxRetries = 5, txn = Some((appId, batchId)),
        propsAdd = Map(SnapshotLog.PartColProp -> partCol))
    else
      SnapshotLog.upsertBatch(spark, path, batch, keys,
        orderCol.getOrElse(keys.head), partCol, batchId,
        maxRetries = 5, statsCols = statsCols, clusterBy = Nil,
        clusterFiles = 16, opCol = opCol, writeCdf = writeCdf,
        extraAffected = Nil, txn = Some((appId, batchId)))
    if (autoCompactFiles > 0)
      SnapshotLog.optimizeTable(spark, path, partCol,
        minFiles = autoCompactFiles + 1, statsCols = statsCols)
  }

  override def toString: String =
    s"CommitLogSink[$path, ${if (keys.isEmpty) "append" else s"upsert(${keys.mkString(",")})"}]"
}
