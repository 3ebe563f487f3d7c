package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotLog

/** One writer keeping a day-partitioned `SnapshotLog` table of the
  * transaction schema. Each cycle appends a new day, upserts status and
  * amount corrections keyed on `id_transaccion` (mostly on recent days),
  * deletes the expired day, and compacts every second cycle; each commit
  * is followed by a read of one partition and a full aggregate. One
  * iteration is one cycle. The set-up runs cycle 0, which compacts, so
  * every request type is warm before timing; the loop runs at least
  * `Ledger.MinCycles` timed cycles, two of them compacting, so each
  * request type has several timed samples. The inputs (seed table and
  * per-cycle batches) are generated by `gen_ledger.py`; `plan.tsv` lists,
  * per cycle, the day appended, the day deleted, and the appended and
  * corrected row counts. */
final class Ledger(work: String, input: String) extends Workload {
  private val plan: Vector[(String, String, Long)] =
    Files.readAllLines(Paths.get(input, "plan.tsv")).asScala.toVector
      .map(_.split("\t")).map(a => (a(1), a(2), a(4).toLong))
  private var base = ""
  private var cycle = 0
  private var changedRows = 0L
  private var commitWins0 = 0L
  /** Live files per partition just before each timed compaction, traced. */
  private val filesPerPartition = scala.collection.mutable.ArrayBuffer.empty[Double]

  def prepare(spark: SparkSession): Unit = {
    base = Paths.get(work, "ledger", "table").toString
    SnapshotLog.appendBatch(spark, base,
      spark.read.parquet(Paths.get(input, "seed.parquet").toString), "fecha_dia", 0L)
  }

  private def table(spark: SparkSession): DataFrame =
    SnapshotLog.read(spark, base, Some("fecha_dia")).get

  /** The two reads that follow every commit. */
  private def readBack(ctx: Ctx, step: String, day: String): Unit = {
    ctx.op("read", s"$step-part", "sources.read") {
      table(ctx.spark).filter(col("fecha_dia") === lit(Date.valueOf(day)))
        .agg(count(lit(1)), sum("monto")).collect()
    }
    ctx.op("read", s"$step-all", "sources.read") {
      table(ctx.spark).agg(count(lit(1)), sum("monto")).collect()
    }
  }

  override def minIterations: Int = Ledger.MinCycles

  override def exhausted: Boolean = cycle >= plan.size

  def iteration(ctx: Ctx): Unit = {
    require(cycle < plan.size, s"ledger inputs hold ${plan.size} cycles; generate more")
    val (appendDay, deleteDay, nChanged) = plan(cycle)
    val c = s"cycle-$cycle"
    val spark = ctx.spark
    if (ctx.iter == 0) commitWins0 = SnapshotLog.commitWins.get
    val batch = 1L + cycle * 4L
    ctx.op("append", s"$c-append", "sources.append") {
      SnapshotLog.appendBatch(spark, base,
        spark.read.parquet(Paths.get(input, s"$c-append.parquet").toString), "fecha_dia", batch)
    }
    readBack(ctx, s"$c-append", appendDay)
    ctx.op("upsert", s"$c-upsert", "sources.upsert") {
      SnapshotLog.upsertBatch(spark, base,
        spark.read.parquet(Paths.get(input, s"$c-upsert.parquet").toString),
        "id_transaccion", "fecha", "fecha_dia", batch + 1)
    }
    if (ctx.iter >= 0) changedRows += nChanged
    readBack(ctx, s"$c-upsert", appendDay)
    ctx.op("delete", s"$c-delete", "sources.delete") {
      SnapshotLog.deleteWhere(spark, base, col("fecha_dia") === lit(Date.valueOf(deleteDay)),
        "fecha_dia")
    }
    readBack(ctx, s"$c-delete", appendDay)
    if (cycle % Ledger.CompactEvery == 0) {
      if (ctx.trace.enabled && ctx.iter >= 0) {
        val live = liveFiles(spark)
        filesPerPartition += live.size.toDouble / live.map(_.getParentFile.getName).distinct.size
      }
      ctx.op("optimize", s"$c-optimize", "sources.optimize") {
        SnapshotLog.optimizeTable(spark, base, "fecha_dia")
      }
      readBack(ctx, s"$c-optimize", appendDay)
    }
    cycle += 1
  }

  private def liveFiles(spark: SparkSession): Seq[File] =
    table(spark).inputFiles.toSeq.map(f => new File(new org.apache.hadoop.fs.Path(f).toUri.getPath))

  override def figures: Map[String, Any] = Map(
    "changed_rows" -> changedRows, "commits" -> (SnapshotLog.commitWins.get - commitWins0),
    "files_per_partition" -> filesPerPartition.toList)

  /** Final table state and layout, for the DuckDB replay. */
  def check(spark: SparkSession): Map[String, Any] = {
    val t = table(spark)
    val row = t.agg(count(lit(1)), countDistinct(col("id_transaccion")), sum("monto")).collect()(0)
    val live = liveFiles(spark)
    val all = Host.files(new File(base))
    val log = all.filter(_.getPath.contains(File.separator + "_log" + File.separator))
    Map(
      "cycles" -> cycle, "rows" -> row.getLong(0), "distinct_ids" -> row.getLong(1),
      "sum_monto" -> row.getDecimal(2),
      "live_bytes" -> live.map(_.length).sum, "table_bytes" -> all.map(_.length).sum,
      "log_files" -> log.size, "log_bytes" -> log.map(_.length).sum)
  }
}

object Ledger {
  /** Cycles between compactions; cycle 0 (the warm-up) compacts. */
  val CompactEvery = 2
  /** Timed cycles the loop runs at least: four appends, upserts and
    * deletes, two compactions. */
  val MinCycles = 4
}
