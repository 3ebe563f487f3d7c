package graft.sources

import java.nio.file.Files
import java.sql.Date
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.SparkJobs

/** The Spark jobs each table-format write starts on a small
  * day-partitioned table. Internal reads scan the manifest's files
  * typed by its schema, so no job infers a schema from file footers or
  * lists a directory: such a job runs under `DataFrameReader`, whose
  * frames its stage details carry. The job counts are pinned so that a
  * new job in any write shows up here. */
class TableOpJobsSpec extends SparkSpec {
  private val Tag = "graft.test.opjobs"

  /** `body`'s job count (through [[SparkJobs.during]]) and the stage
    * details of every job it started. */
  private def traced(body: => Any): (Int, Seq[String]) = {
    val sc = spark.sparkContext
    val token = UUID.randomUUID.toString
    val details = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == token)
          e.stageInfos.foreach(si => details.add(si.details))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, token)
    try (SparkJobs.during(spark)(body)._2, details.asScala.toSeq)
    finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("table-format writes start pinned job counts and no inference job") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_opjobs").toString + "/tbl"
    def rows(ids: Seq[Long], day: String, amount: Double) =
      ids.map(i => (i, Date.valueOf(day), amount + i, "OK", i))
        .toDF("id", "day", "amount", "status", "ts")
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    SnapshotLog.appendBatch(spark, base,
      days.zipWithIndex.map { case (d, k) => rows((1L to 20L).map(_ + 100L * k), d, 1.0) }
        .reduce(_ unionByName _), "day", 0L)
    SnapshotLog.read(spark, base).get.count()

    val ops: Seq[(String, () => Any)] = Seq(
      "append" -> (() => SnapshotLog.appendBatch(spark, base,
        rows(301L to 320L, "2024-01-04", 2.0), "day", 1L)),
      "upsert" -> (() => SnapshotLog.upsertBatch(spark, base,
        rows(Seq(1L, 2L, 999L), "2024-01-01", 3.0), "id", "ts", "day", 2L)),
      "dv delete" -> (() => SnapshotLog.deleteWhere(spark, base, col("id") === 205L,
        "day", deletionVectors = true)),
      "row delete" -> (() => SnapshotLog.deleteWhere(spark, base, col("id") === 110L,
        "day")),
      "optimize" -> (() => SnapshotLog.optimizeTable(spark, base, "day")))
    val observed = ops.map { case (op, run) =>
      val (jobs, details) = traced(run())
      (op, jobs, details.count(_.contains("DataFrameReader")))
    }
    val report = observed.map { case (op, j, inf) => s"$op: $j jobs, $inf inferring" }
      .mkString("; ")
    assert(observed.forall(_._3 == 0), s"a write inferred a schema: $report")
    assert(observed.map(o => o._1 -> o._2) == Seq(
      "append" -> 2, "upsert" -> 7, "dv delete" -> 4, "row delete" -> 4,
      "optimize" -> 3), report)

    val t = SnapshotLog.read(spark, base).get
    assert(t.count() == 60 + 20 + 1 - 2)
    assert(t.filter(col("id") === 1L).select("amount").as[Double].head() == 4.0)
  }

  test("rewrites through the staged-rewrite step start pinned job counts") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_opjobs2").toString + "/tbl"
    def rows(ids: Seq[Long], day: String, amount: Double) =
      ids.map(i => (i, Date.valueOf(day), amount + i, "OK", i))
        .toDF("id", "day", "amount", "status", "ts")
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    SnapshotLog.appendBatch(spark, base,
      days.zipWithIndex.map { case (d, k) => rows((1L to 20L).map(_ + 100L * k), d, 1.0) }
        .reduce(_ unionByName _), "day", 0L)
    // a second file in 2024-01-02 for the partition-subset OPTIMIZE
    SnapshotLog.appendBatch(spark, base, rows(401L to 410L, "2024-01-02", 5.0), "day", 1L)
    SnapshotLog.read(spark, base).get.count()

    val ops: Seq[(String, () => Any)] = Seq(
      "replace where" -> (() => SnapshotLog.replaceWhere(spark, base,
        rows(501L to 505L, "2024-01-03", 6.0),
        col("day") === lit(Date.valueOf("2024-01-03")), "day")),
      "update where" -> (() => SnapshotLog.updateWhere(spark, base, col("id") === 110L,
        Map("amount" -> lit(0.0)), "day")),
      "optimize subset" -> (() => SnapshotLog.optimizeTable(spark, base, "day",
        parts = Some(Seq("2024-01-02")))),
      "optimize zorder" -> (() => SnapshotLog.optimizeTable(spark, base, "day",
        statsCols = Seq("amount", "id"), parts = Some(Seq("2024-01-01")),
        zorderBy = Seq("amount", "id"), clusterFiles = 2)))
    val observed = ops.map { case (op, run) =>
      val (jobs, details) = traced(run())
      (op, jobs, details.count(_.contains("DataFrameReader")))
    }
    val report = observed.map { case (op, j, inf) => s"$op: $j jobs, $inf inferring" }
      .mkString("; ")
    assert(observed.forall(_._3 == 0), s"a write inferred a schema: $report")
    assert(observed.map(o => o._1 -> o._2) == Seq(
      "replace where" -> 8, "update where" -> 3, "optimize subset" -> 2,
      "optimize zorder" -> 7), report)

    val t = SnapshotLog.read(spark, base).get
    assert(t.count() == 60 + 10 - 20 + 5)
    assert(t.filter(col("id") === 110L).select("amount").as[Double].head() == 0.0)
  }
}
