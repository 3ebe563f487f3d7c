package graft.etl

import java.sql.Timestamp

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end medallion pipeline: Bronze CSV → Silver Parquet →
  * Gold Parquet, with the reference's event-driven trigger contract.
  *
  * Orchestration collapses the reference's four service hops (S3 event →
  * Step Function → Glue → Redshift, ref `infrastructure/main.tf:341-511`)
  * into one Spark application: the `_READY` flag written last by the
  * producer (race-avoidance, ref `data_gen/generator.py:177-191`) gates
  * the run and is deleted first for idempotence (ref `main.tf:350-361`);
  * a `_SUCCESS` marker plays the role of `job.commit()`.
  *
  * Scale notes:
  *  - Silver is written partitioned by `fecha_dia` with DYNAMIC partition
  *    overwrite, passed as the writer's option so the caller's session
  *    is left as it was. Re-running a batch replaces only the days it
  *    contains instead of truncating history (the reference's full
  *    `mode("overwrite")` at `glue_jobs/etl_job.py:130` would).
  *  - The cleaned rows are hash-clustered by `fecha_dia` into one task per
  *    core before the write, so each day is ONE file whatever the number
  *    of input splits, and every core writes. The partition count is
  *    explicit, so AQE cannot coalesce the write onto one task.
  *  - Reading Silver back lists its day directories in one task per core
  *    (not one per day), and the read-back is persisted, so the three
  *    Gold writes and Validation scan the Silver files once between them.
  *  - `RuleStats.kept` comes from the clean pass's observation: it counts
  *    this batch's kept rows, not the Silver table, which also holds the
  *    days of earlier batches.
  *  - Gold tables aggregate to one row per (ATM[, day]), tiny relative to
  *    the fact, so their full overwrite is safe at any scale.
  */
final case class PipelineResult(
    stats: RuleStats,
    validation: ValidationReport,
    silverPath: String,
    goldPaths: Map[String, String])

object Pipeline {

  // Trigger flags travel through the Hadoop FileSystem of their path's
  // scheme — the reference's _READY contract is S3-native (ref
  // `main.tf:350-361`), so a local-only flag check would be dishonest.
  // Resolving from a bare Configuration (not the session) keeps `ready`
  // callable before a SparkSession exists, as a poll loop does.
  private def flagPath(root: String, flag: String) = new Path(root, flag)

  def ready(inputRoot: String): Boolean = {
    val p = flagPath(inputRoot, "_READY")
    p.getFileSystem(new Configuration()).exists(p)
  }

  /** @param inputRoot  dir containing `dim_atms/` and `fact_transactions/`
    *                   CSV folders plus the `_READY` flag
    * @param outputRoot dir receiving the silver and gold Parquet tables
    * @param clock      "now" for the future-date rule (injected for
    *                   determinism; production passes wall-clock)
    */
  def run(
      spark: SparkSession,
      inputRoot: String,
      outputRoot: String,
      clock: Timestamp): PipelineResult = {
    require(ready(inputRoot), s"no _READY flag under $inputRoot")
    val readyFlag = flagPath(inputRoot, "_READY")
    readyFlag.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(readyFlag, false) // consume trigger first

    val facts = CleanTransactions.readFacts(spark, s"$inputRoot/fact_transactions")
    val dims = CleanTransactions.readDims(spark, s"$inputRoot/dim_atms")
    val (silver, obs) = CleanTransactions.run(facts, dims, clock)

    val cores = spark.sparkContext.defaultParallelism
    val silverPath = s"$outputRoot/silver"
    silver.repartition(cores, col("fecha_dia")).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("fecha_dia")
      .parquet(silverPath)
    // the write is the action that populates the observation
    val stats = Rules.stats(obs, CleanTransactions.rules(clock))

    val silverBack = withDiscoveryParallelism(spark, cores) {
      spark.read.parquet(silverPath)
    }.persist()
    try {
      val gold = Map(
        "gold_dim_atms" -> Gold.dimAtmsActual(silverBack),
        "gold_daily_balance" -> Gold.dailyBalance(silverBack),
        "gold_atm_ranking" -> Gold.atmRanking(silverBack))
      val goldPaths = gold.map { case (name, df) =>
        val p = s"$outputRoot/$name"
        df.write.mode(SaveMode.Overwrite).parquet(p)
        name -> p
      }

      val report = Validation.validate(silverBack)
      val success = flagPath(outputRoot, "_SUCCESS")
      success.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(success, true).close()
      PipelineResult(stats, report, silverPath, goldPaths)
    } finally silverBack.unpersist()
  }

  private val DiscoveryParallelism = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

  /** Runs `read` (an eager file-source resolution) with partition
    * discovery bounded to `tasks` listing tasks, then restores the
    * session's own setting. Spark's default is one task per directory
    * up to 10,000, which for day-partitioned Silver is a job of hundreds
    * of tasks that each list one small directory. */
  private def withDiscoveryParallelism[T](spark: SparkSession, tasks: Int)(read: => T): T = {
    val previous = spark.conf.getAll.get(DiscoveryParallelism) // set, not default
    spark.conf.set(DiscoveryParallelism, tasks.toLong)
    try read
    finally previous match {
      case Some(v) => spark.conf.set(DiscoveryParallelism, v)
      case None => spark.conf.unset(DiscoveryParallelism)
    }
  }
}
