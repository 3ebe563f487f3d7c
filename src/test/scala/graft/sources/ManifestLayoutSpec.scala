package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.SparkSpec

/** The three manifest layouts are one table format: the same commit
  * sequence replayed on an inline, a sharded and a two-level table
  * gives the same history, the same partition summary and the same
  * manifest (files per partition, their stats and deletion vectors).
  * Only file names and `__bytes` may differ — names carry per-write
  * tokens, and byte lengths follow the writer's row order. */
class ManifestLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range) =
    ids.map(i => (i.toLong, i * 1.5, s"d${i % 5}")).toDF("id", "value", "day")

  /** Replays the sequence on a fresh table of the given layout. */
  private def replay(layout: String): (String, Path) = {
    val base = Files.createTempDirectory(s"graft_layout_$layout").toString + "/tbl"
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    layout match {
      case "sharded" => SnapshotLog.enableSharding(fs, bp)
      case "grouped" => SnapshotLog.enableSharding(fs, bp, grouped = true)
      case _ => ()
    }
    SnapshotLog.appendBatch(spark, base, rows(1 to 100), "day", batchId = 1)
    SnapshotLog.upsertBatch(spark, base, rows(90 to 120), Seq("id"), "value",
      "day", batchId = 2, maxRetries = 5, statsCols = Seq("id", "value"),
      clusterBy = Nil, clusterFiles = 2, opCol = None, writeCdf = false)
    SnapshotLog.deleteWhere(spark, base, col("id") === 12L, "day",
      deletionVectors = true)
    assert(SnapshotLog.optimizeTable(spark, base, "day",
      statsCols = Seq("id", "value")) > 0L)
    SnapshotLog.deleteWhere(spark, base, col("id") === 13L, "day",
      deletionVectors = true)
    SnapshotLog.addColumns(spark, base, new StructType().add("note", StringType))
    (base, bp)
  }

  test("inline, sharded and two-level tables agree on history, summary and manifest") {
    val tables = Seq("inline", "sharded", "grouped").map(l => l -> replay(l))
    def onDisk(bp: Path) = new Path(bp, "_log").getFileSystem(
      spark.sparkContext.hadoopConfiguration).listStatus(new Path(bp, "_log"))
      .map(_.getPath.getName).toSet
    // the layouts really differ on disk
    val (_, (_, inlineBp)) = tables.head
    assert(!onDisk(inlineBp).exists(_.startsWith("s")))
    assert(onDisk(tables(1)._2._2).exists(_.startsWith("s")))
    assert(onDisk(tables(2)._2._2).exists(_.startsWith("g")))

    def view(base: String, bp: Path) = {
      val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val history = SnapshotLog.history(spark, base).drop("timestamp")
        .collect().toSeq
      val m = SnapshotLog.readManifest(fs, bp).get
      // per partition: each file's stats (less __bytes) and DV count
      val files = m.files.map { case (p, fls) =>
        p -> fls.map(f => (m.stats.getOrElse(f, Map.empty) - SnapshotLog.ByteSizeKey,
          m.dvs.get(f).map(_.count))).sortBy(_.toString)
      }
      (history, SnapshotLog.partitionSummary(fs, bp), files, m.schemaJson,
        SnapshotLog.read(spark, base).get.orderBy("id").collect().toSeq)
    }
    val views = tables.map { case (l, (base, bp)) => l -> view(base, bp) }
    val (_, (history, summary, files, schema, data)) = views.head
    assert(history.size == 6 && history.map(_.getString(1)).toSet
      .contains("DELETE_DV"), history)
    assert(files.values.exists(_.exists(_._2.isDefined)), "a DV survives")
    assert(summary.map(_._1) == (0 to 4).map(i => s"d$i"))
    views.tail.foreach { case (l, (h, s, f, sc, d)) =>
      assert(h == history, s"$l history")
      assert(s == summary, s"$l partition summary")
      assert(f == files, s"$l manifest files, stats and DVs")
      assert(sc == schema, s"$l schema")
      assert(d == data, s"$l rows")
    }
  }
}
