package graft.etl

import java.sql.Timestamp

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  *  - The clustered batch is persisted and Silver is written from the
  *    cache, so the three Gold writes and Validation read the batch from
  *    memory instead of re-scanning the files it just wrote. Only the days
  *    this batch did not overwrite are read back from disk (listed in one
  *    task per core, not one per day) and persisted next to it; a batch
  *    that covers every stored day reads nothing back.
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
  // Resolving from a session-free conf keeps `ready` callable before a
  // SparkSession exists, as a poll loop does; `LocalFs.hadoopConf` keeps
  // that first `file:` lookup of the JVM on the engine's file system.
  private def flagPath(root: String, flag: String) = new Path(root, flag)

  def ready(inputRoot: String): Boolean = {
    val p = flagPath(inputRoot, "_READY")
    p.getFileSystem(graft.io.LocalFs.hadoopConf()).exists(p)
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
    val batch = silver.repartition(cores, col("fecha_dia")).persist()
    try {
      // the batch's days, cast to string as the writer names their directories
      val dayObs = Observation()
      batch.observe(dayObs, collect_set(col("fecha_dia").cast("string")).as("days"))
        .write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("fecha_dia")
        .parquet(silverPath)
      // the write is the action that populates both observations
      val stats = Rules.stats(obs, CleanTransactions.rules(clock))
      val batchDays = dayObs.get("days").asInstanceOf[Seq[String]]
        .map(ExternalCatalogUtils.getPartitionPathString("fecha_dia", _)).toSet

      val earlier = earlierDays(spark, silverPath, batchDays, batch.schema, cores).map(_.persist())
      try {
        val silverAll = earlier.fold(batch)(batch.unionByName(_))
        val gold = Map(
          "gold_dim_atms" -> Gold.dimAtmsActual(silverAll),
          "gold_daily_balance" -> Gold.dailyBalance(silverAll),
          "gold_atm_ranking" -> Gold.atmRanking(silverAll))
        val goldPaths = gold.map { case (name, df) =>
          val p = s"$outputRoot/$name"
          df.write.mode(SaveMode.Overwrite).parquet(p)
          name -> p
        }

        val report = Validation.validate(silverAll)
        val success = flagPath(outputRoot, "_SUCCESS")
        success.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .create(success, true).close()
        PipelineResult(stats, report, silverPath, goldPaths)
      } finally earlier.foreach(_.unpersist())
    } finally batch.unpersist()
  }

  /** The day directories under `silverPath` that the batch did not
    * overwrite (`batchDays` are its directory names), read with the
    * batch's schema; None when there are none. One `listStatus` of the
    * table root finds them. Under dynamic partition overwrite,
    * these days plus the batch are exactly the rows the table holds. */
  private def earlierDays(
      spark: SparkSession,
      silverPath: String,
      batchDays: Set[String],
      schema: StructType,
      cores: Int): Option[DataFrame] = {
    val root = new Path(silverPath)
    val dirs = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
      .collect { case s if s.isDirectory => s.getPath }
      .filter(p => p.getName.startsWith("fecha_dia=") && !batchDays(p.getName))
    if (dirs.isEmpty) None
    else Some(withDiscoveryParallelism(spark, cores) {
      spark.read.schema(schema).option("basePath", silverPath).parquet(dirs.map(_.toString): _*)
    })
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
