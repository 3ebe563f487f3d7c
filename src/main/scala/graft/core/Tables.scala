package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the TPC-H-ish test corpus (TESTDATA.md).
  *
  * Scans are plain `spark.read.schema(s).parquet` so Catalyst's
  * FileSourceStrategy gives us column pruning + predicate pushdown for
  * free; at cluster scale the same call reads a partitioned directory tree
  * and prunes partitions. The schema `s` is resolved once per file version
  * (see [[resolve]]), so building a query runs no Spark job to learn a
  * schema it learned before.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // One entry per table path, holding the file version it last resolved
  // and what that version resolved to. A build whose listing matches the
  // entry reads with its schema and scan partition count; a table
  // rewritten at the same path lists differently and re-resolves both,
  // replacing the entry.
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  /** A file version (each data file's path, length and modification
    * time, sorted by path), its schema, and its scan partition count.
    * `spark.read.parquet` learns a schema by a Spark job that reads a
    * footer; here the driver reads it, once per version. The partition
    * count (`df.rdd.getNumPartitions`, full analysis + physical planning
    * on the driver) is taken on first use: only the rebalance asks.
    * Both follow the settings of the session that resolved the version
    * first (its parquet conversion flags, its default parallelism). */
  private final class Resolved(val version: Seq[(String, Long, Long)], val schema: StructType) {
    @volatile private var parts = -1
    def scanParts(df: DataFrame): Int = {
      if (parts < 0) parts = df.rdd.getNumPartitions
      parts
    }
  }

  private def resolve(spark: SparkSession, path: String): Resolved = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      try dataFiles(fs, fs.getFileStatus(p)).sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Nil }
    val version = files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    resolved.compute(path, (_, old) =>
      if (old != null && old.version == version) old
      else new Resolved(version,
        // no file to read a footer from: Spark's own inference raises
        // its error (path not found, unable to infer schema)
        if (files.isEmpty) spark.read.parquet(path).schema
        else footerSchema(spark, conf, files.head)))
  }

  /** The files Spark's listing would read: hidden (`_`/`.`-prefixed)
    * names are skipped, as `InMemoryFileIndex` skips them. */
  private def dataFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filterNot { c =>
      val n = c.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }.flatMap(dataFiles(fs, _))

  /** The schema Spark infers for `file` without `mergeSchema` (it reads
    * the first data file's footer), with the session's conversion
    * settings (`nanosAsLong`, `inferTimestampNTZ`, binary-as-string). */
  private def footerSchema(spark: SparkSession, conf: Configuration, file: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, meta), new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Scan + the local-corpus rebalance (see below) — the right call for
    * consumers that run per-row compute (regex, array HOFs, vector math)
    * straight off the scan: the rebalance spreads that compute across
    * the session's cores when the corpus ships as one row group. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name,
      rebalance = Some(df => df.repartition(df.sparkSession.sparkContext.defaultParallelism)))

  /** Scan with NO rebalance: for consumers whose first downstream
    * operator is itself an exchange (groupBy/shuffle join/window) or a
    * broadcast join feeding one. There the blanket round-robin
    * repartition is a pure extra shuffle — the decode is serial either
    * way on a single-row-group file, the partial aggregation/map-side
    * join fuses into the scan stage, and the operator's own exchange
    * parallelizes everything downstream. On a real multi-file (100 TB)
    * layout `apply` already skips the rebalance, so `raw` and `apply`
    * plan identically there; locally `raw` is one exchange cheaper. */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name, rebalance = None)

  /** Scan rebalanced BY KEY instead of round-robin: for consumers whose
    * next exchange-requiring operator clusters by `keys` (an equi-join
    * or groupBy on them). The rebalance then *doubles as* that
    * operator's exchange (hash partitioning on a prefix of the
    * clustering keys satisfies its distribution), instead of paying
    * round-robin + the operator's own shuffle back to back. Only keys
    * with enough distinct values to fill the session's cores qualify —
    * a low-cardinality key would skew the rebalance itself. */
  def keyed(spark: SparkSession, dir: String, name: String, keys: String*): DataFrame =
    // The partition count is PINNED (REPARTITION_BY_NUM semantics): an
    // unpinned keyed repartition is AQE-coalescible, and AQE's byte-based
    // coalescing only sees the (small) pre-exchange bytes — it cannot see
    // post-exchange compute amplification (regex/explode/decode), so it
    // happily coalesced a 10M-row gram-generation stage onto one task
    // (measured: d27 2.2 s → 8.7 s). The whole point of this rebalance is
    // the compute spread; pin it.
    load(spark, dir, name, rebalance = Some(df =>
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys.map(col): _*)))

  private def load(
      spark: SparkSession, dir: String, name: String,
      rebalance: Option[DataFrame => DataFrame]): DataFrame = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark rejects
    // outright — PARQUET_TYPE_ILLEGAL — so we read it as epoch-nanos long and
    // convert) and, in newer corpus drops, as TIMESTAMP(MICROS) isAdjustedToUTC
    // =false (Spark TIMESTAMP_NTZ). Branch on what the footer actually says so
    // either vintage loads; both land on session-TZ TimestampType (UTC
    // everywhere here), keeping one downstream type and matching DuckDB's
    // naive-µs read of the same files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val table = resolve(spark, path)
    val raw = spark.read.schema(table.schema).parquet(path)
    val df =
      if (name == "events") table.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => raw
        case other =>
          // Fail at load, not at first event-time use: a surprise encoding
          // (INT96, string, ...) would otherwise surface as a confusing
          // type error deep inside a window/join plan.
          sys.error(s"unexpected events.ts parquet type: $other " +
            "(expected nanos-as-long, TIMESTAMP_NTZ, or TimestampType)")
      }
      else raw

    // The test corpus ships one single-row-group file per table, so the
    // scan yields ONE input partition and everything upstream of the
    // first exchange runs on one core. Rebalance only when the scan's
    // parallelism is far below the session's — with a real multi-file
    // (100 TB) layout the condition is false and this is a no-op, which
    // is exactly right: there a blanket repartition would be a needless
    // full-table shuffle.
    rebalance match {
      case Some(f) if factTables(name) =>
        val target = spark.sparkContext.defaultParallelism
        if (table.scanParts(df) * 4 < target) f(df) else df
      case _ => df
    }
  }

  /** The scan partition count the rebalance decision reads, as cached
    * for the table's current file version. */
  private[core] def scanParts(spark: SparkSession, dir: String, name: String): Int = {
    val path = s"$dir/$name.parquet"
    val table = resolve(spark, path)
    table.scanParts(spark.read.schema(table.schema).parquet(path))
  }

  /** Tables large enough that downstream compute wants full parallelism;
    * the dimension tables stay as-scanned (they broadcast anyway, and 32
    * near-empty tasks per tiny dim would be pure overhead). */
  private val factTables =
    Set("lineitem", "orders", "events", "documents", "embeddings")
}
