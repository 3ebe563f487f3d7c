package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.{SnapshotFileIndex, SnapshotLog, SnapshotRelation}

/** Measured evidence for the typed-partition-exposure tranche: the
  * month-partitioned orders fact ⋈ filtered month dim (q128's shape),
  * run (a) with the partition column exposed — Spark's dynamic
  * partition pruning reads only the dim-selected months' files — and
  * (b) with exposure off (partCol = None → the flat stats-pruned scan,
  * exactly the pre-tranche plan, which must read EVERY fact file since
  * the fact side carries no static predicate). One JSON line to
  * stdout; numbers land in PLANS.md.
  *
  * `SPARK_GRAFT_SF_DIR` picks the corpus (default sf0.1). */
object DppBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSessions.local()

    val root = java.nio.file.Files.createTempDirectory("graft_dppbench")
      .toString
    val base = s"$root/fact"
    val fact = graft.core.Tables(spark, sfDir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderstatus"), col("o_orderpriority"),
      date_format(col("o_orderdate"), "yyyy-MM").as("omonth"))
    SnapshotLog.appendBatch(spark, base, fact, "omonth", batchId = 1)
    val dimPath = s"$root/dim"
    fact.select("omonth").distinct()
      .withColumn("yr", substring(col("omonth"), 1, 4).cast("int"))
      .withColumn("qtr",
        expr("(cast(substring(omonth, 6, 2) as int) + 2) div 3"))
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)

    def run(partCol: Option[String]): (Double, Long, Long) = {
      val (rel, idx) = SnapshotRelation
        .applyWithIndex(spark, base, partCol = partCol).get
      def q = rel.join(dim, Seq("omonth"))
        .filter(col("yr") === 1995 && col("qtr") === 2)
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      q.collect() // warm (JIT, dim cache, code gen)
      val times = (1 to 3).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        q.collect()
        (System.nanoTime() - t0) / 1e9
      }
      // post-run: how many files did the LAST execution's scan read?
      val probe = q
      probe.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(qs.plan)
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scans(a.executedPlan)
        }.flatten
      val scan = scans(probe.queryExecution.executedPlan)
        .find(_.relation.location.isInstanceOf[SnapshotFileIndex]).get
      val read = scan.metrics.get("numFiles").map(_.value).getOrElse(-1L)
      (times.min, read, idx.manifest.allFiles.size.toLong)
    }

    val (dppSec, dppFiles, total) = run(Some("omonth"))
    val (flatSec, flatFiles, _) = run(None)
    println(s"""{"metric":"dpp_join","sf_dir":"$sfDir",""" +
      s""""dpp_sec":$dppSec,"flat_sec":$flatSec,""" +
      s""""dpp_files_read":$dppFiles,"flat_files_read":$flatFiles,""" +
      s""""total_files":$total,"speedup":${flatSec / dppSec}}""")
    spark.stop()
  }
}
