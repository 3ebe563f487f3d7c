package graft.io

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.Instant

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.{FixtureGen, Pipeline}
import graft.sources.{RootOpenCountingFs, SnapshotLog}

/** The engine's writes start no child process: every `file:` create,
  * mkdir and rename goes through [[LocalFs]], which sets permissions
  * through `java.nio` where the stock local file system forks `chmod`
  * once per file and per directory. Counted with JFR's
  * `jdk.ProcessStart` event around each piece of work, leaving out
  * Spark's timer- and GC-driven housekeeping threads
  * ([[ProcessStarts.during]]). */
class NoForkSpec extends SparkSpec {
  import spark.implicits._

  private def assertNoFork(what: String)(body: => Any): Unit = {
    val starts = ProcessStarts.during(body)
    assert(starts.isEmpty,
      s"$what started ${starts.size} process(es):\n${starts.take(5).mkString("\n")}")
  }

  test("a Silver-shaped partitioned write with dynamic overwrite starts no process") {
    val out = Files.createTempDirectory("graft_nofork_silver").toString + "/silver"
    val rows = spark.range(0, 4000).select(
      date_add(lit(Date.valueOf("2025-01-01")), ($"id" % 40).cast("int")).as("fecha_dia"),
      $"id", ($"id" * 3).as("monto"))
    def write(df: org.apache.spark.sql.DataFrame) =
      df.repartition(4, $"fecha_dia").write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("fecha_dia")
        .parquet(out)
    assertNoFork("the first write")(write(rows))
    assertNoFork("the overwrite")(write(rows.filter($"id" % 2 === 0)))
    assert(spark.read.parquet(out).count() == 4000)
  }

  test("Pipeline.run on a small batch starts no process") {
    val clock = Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))
    val in = Files.createTempDirectory("graft_nofork_in").toString
    val out = Files.createTempDirectory("graft_nofork_out").toString
    FixtureGen.write(in, nAtms = 10, nTx = 2000, seed = 7L, clock = clock)
    var kept = 0L
    assertNoFork("Pipeline.run") {
      kept = Pipeline.run(spark, in, out, clock).stats.kept
    }
    assert(kept > 0)
  }

  test("a SnapshotLog append, upsert, delete and optimize cycle starts no process") {
    val base = Files.createTempDirectory("graft_nofork_log").toString + "/tbl"
    def batch(ids: Range, v: Long) =
      ids.map(i => (i.toLong, v, s"d${i % 4}")).toDF("id", "v", "day")
    SnapshotLog.appendBatch(spark, base, batch(0 until 40, 0L), "day", batchId = 0L)
    assertNoFork("the commit cycle") {
      SnapshotLog.appendBatch(spark, base, batch(40 until 60, 1L), "day", batchId = 1L)
      SnapshotLog.upsertBatch(spark, base, batch(0 until 10, 2L), "id", "v", "day", batchId = 2L)
      SnapshotLog.deleteWhere(spark, base, col("day") === "d3", "day")
      SnapshotLog.optimizeTable(spark, base, "day")
    }
    val back = SnapshotLog.read(spark, base, Some("day")).get
    assert(back.count() == 45)
    assert(back.filter($"v" === 2L).count() == 10 - 2) // ids 3 and 7 sat in d3
  }

  test("the rootcount test file system commits without starting a process") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.rootcount.impl", classOf[RootOpenCountingFs].getName)
    val base = "rootcount://" + Files.createTempDirectory("graft_nofork_rootcount") + "/tbl"
    val rows = (0 until 20).map(i => (i.toLong, 0L, s"d${i % 4}")).toDF("id", "v", "day")
    assertNoFork("an append and an upsert under rootcount") {
      SnapshotLog.appendBatch(spark, base, rows, "day", batchId = 0L)
      SnapshotLog.upsertBatch(spark, base, rows.limit(5), "id", "v", "day", batchId = 1L)
    }
    assert(SnapshotLog.read(spark, base, Some("day")).get.count() == 20)
  }
}
