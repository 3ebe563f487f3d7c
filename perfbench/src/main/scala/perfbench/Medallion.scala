package perfbench

import java.io.File
import java.nio.file.Paths
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.etl.{FixtureGen, Pipeline}

/** The paper's own pipeline: a seeded LogiCash batch (`etl.FixtureGen`,
  * 50 ATMs, two years of days) is written before each timed request, then
  * `Pipeline.run` takes it Bronze CSV → Silver → Gold + Validation into
  * one output root. Every request gets a fresh batch seed and `_READY`
  * flag, so a later request overwrites the day partitions dynamically, as
  * a production rerun does.
  *
  * The warm-up is one small batch (`WarmRows`) into the same root: it
  * compiles the pipeline's code paths and leaves day partitions that the
  * timed batch then overwrites. */
final class Medallion(work: String, seed: Long, size: String) extends Workload {
  private val (rowsPerBatch, warmRows) = size match {
    case "tiny" => (2000, 300)
    case _ => (Medallion.FullRows, Medallion.WarmRows)
  }
  private val clock = Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))
  private var outRoot = ""
  private var batchNo = 0
  /** Every batch run into the output root, in order. */
  private val batches = ArrayBuffer.empty[Map[String, Any]]

  def prepare(spark: SparkSession): Unit =
    outRoot = Paths.get(work, "medallion", "out").toString

  def iteration(ctx: Ctx): Unit = {
    val in = Paths.get(work, "medallion", s"in-${ctx.tag}").toString
    val batchSeed = seed * 1000003L + batchNo
    batchNo += 1
    FixtureGen.write(in, nAtms = 50, nTx = if (ctx.iter < 0) warmRows else rowsPerBatch,
      seed = batchSeed, clock = clock)
    val csvBytes = Host.files(new File(in)).filter(_.getName.endsWith(".csv")).map(_.length).sum
    val startMs = System.currentTimeMillis()
    val r = ctx.op("batch", ctx.tag, "etl.batch")(Pipeline.run(ctx.spark, in, outRoot, clock))
    val silver = Host.files(new File(r.silverPath)).filter(_.getName.endsWith(".parquet"))
    val v = r.validation
    batches += Map(
      "input" -> in, "timed" -> (ctx.iter >= 0), "csv_bytes" -> csvBytes,
      "silver_files" -> silver.size,
      "silver_bytes_written" -> silver.filter(_.lastModified >= startMs).map(_.length).sum,
      "stats" -> Map("total" -> r.stats.totalRows, "kept" -> r.stats.kept,
        "violations" -> r.stats.violationsByRule),
      "validation" -> Map("total" -> v.totalRows, "nn_atm" -> v.nonNullAtm,
        "nn_monto" -> v.nonNullMonto, "nn_ubicacion" -> v.nonNullUbicacion,
        "min_monto" -> v.minMonto, "max_monto" -> v.maxMonto,
        "montos_invalidos" -> v.montosInvalidos, "n_atms" -> v.distinctAtms,
        "n_days" -> v.distinctDays))
  }

  def check(spark: SparkSession): Map[String, Any] =
    Map("clock" -> "2026-01-01 00:00:00", "batches" -> batches.toList)
}

object Medallion {
  /** Transactions per full-size batch, and per warm-up batch. */
  val FullRows = 50000
  val WarmRows = 100
}
