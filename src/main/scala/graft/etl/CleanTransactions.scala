package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze → Silver: extract, conform, and clean the transaction fact.
  *
  * Shape follows the reference ETL (ref `glue_jobs/etl_job.py:49-109`):
  * CSV *directory* scans (multi-file incremental batches), fact ⟕
  * broadcast(dim) on `id_atm` (dim ≪ 200 MB heuristic, ref `:68-71`),
  * 4-rule quality filter, derived `fecha_dia` partition day, exact
  * DECIMAL(18,2) money. Differences by design: explicit schemas (no
  * inference pass), injected clock (determinism), and the rule breakdown
  * via observe() — one job where the reference runs five.
  */
object CleanTransactions {

  val successStatus = "EXITOSA"

  def rules(clock: Timestamp): Seq[Rule] = Seq(
    NotNull("id_atm"),                     // ref etl_job.py:80,93
    Positive("monto"),                     // ref etl_job.py:81,94
    NotAfter("fecha", clock),              // ref etl_job.py:82,95
    OneOf("status_transaccion", Seq(successStatus))) // ref etl_job.py:83,96

  def readFacts(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.factTransactions)
      .csv(dir)

  def readDims(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.dimAtms)
      .csv(dir)

  /** Dev-mode variant of the reference's inferSchema read
    * (ref `glue_jobs/etl_job.py:49-60`) — schema drift surfaces here
    * instead of corrupting production runs. */
  def readInferred(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(dir)

  /** Joined + cleaned Silver DataFrame with rule observability attached.
    * Call an action, then `Rules.stats(obs, rules(clock))`. */
  def run(
      facts: DataFrame,
      dims: DataFrame,
      clock: Timestamp): (DataFrame, org.apache.spark.sql.Observation) = {
    val joined = facts.join(broadcast(dims), Seq("id_atm"), "left")
    val (clean, obs) = Rules.clean(joined, rules(clock))
    val silver = clean
      .withColumn("fecha_dia", to_date(col("fecha")))
    (silver, obs)
  }
}
