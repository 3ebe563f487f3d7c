package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every data-writing commit carries the table's versioned metadata
  * forward: writers build the next manifest from the base one and
  * name only what they change, so a CHECK constraint, a property, a
  * renamed column, a dropped column and a transaction watermark
  * survive every write, and each commit's `op` names its own
  * operation, never the previous commit's. */
class ManifestCarryForwardSpec extends SparkSpec {

  test("writers carry constraints, properties, column mapping and watermarks forward") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_carry").toString + "/t"
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest = SnapshotLog.readManifest(fs, bp).get
    SnapshotLog.appendBatch(spark, base,
      (1L to 30L).map(i => (i, i * 1.0, s"d${i % 3}", s"n$i", i))
        .toDF("id", "value", "day", "note", "extra"),
      "day", batchId = 1, txn = Some(("app", 7L)))
    SnapshotLog.addConstraint(spark, base, "pos", "id > 0")
    SnapshotLog.setProperties(spark, base, Map("owner" -> "ops"))
    SnapshotLog.renameColumn(spark, base, "note", "memo", Some("day"))
    SnapshotLog.dropColumn(spark, base, "extra", Some("day"))

    def rows(ids: Seq[Long], day: String): DataFrame =
      ids.map(i => (i, i * 2.0, day, s"m$i")).toDF("id", "value", "day", "memo")
    val steps: Seq[(String, String, () => Any)] = Seq(
      ("append", "APPEND", () => SnapshotLog.appendBatch(spark, base,
        rows(Seq(100L, 101L), "d9"), "day", batchId = 2)),
      ("upsert", "UPSERT", () => SnapshotLog.upsertBatch(spark, base,
        rows(Seq(1L, 200L), "d1"), Seq("id"), "value", "day", batchId = 3)),
      ("row delete", "DELETE", () => SnapshotLog.deleteWhere(spark, base,
        col("id") === 2L, "day")),
      ("partition delete", "DELETE", () => SnapshotLog.deleteWhere(spark, base,
        col("day") === "d9", "day")),
      ("replace where", "REPLACE_WHERE", () => SnapshotLog.replaceWhere(spark, base,
        rows(Seq(300L, 301L), "d0"), col("day") === "d0", "day")),
      ("update where", "UPDATE", () => SnapshotLog.updateWhere(spark, base,
        col("id") === 4L, Map("value" -> lit(0.0)), "day")),
      ("dv delete", "DELETE_DV", () => SnapshotLog.deleteWhere(spark, base,
        col("id") === 5L, "day", deletionVectors = true)),
      ("optimize", "OPTIMIZE", () => assert(
        SnapshotLog.optimizeTable(spark, base, "day") > 0L)),
      ("optimize subset zorder", "OPTIMIZE", () => assert(
        SnapshotLog.optimizeTable(spark, base, "day", parts = Some(Seq("d1")),
          zorderBy = Seq("value"), clusterFiles = 2) > 0L)))
    steps.foldLeft(manifest.version) { case (before, (what, op, run)) =>
      run()
      val m = manifest
      assert(m.version == before + 1, s"$what must commit one version")
      assert(m.op.contains(op), s"$what committed op ${m.op}")
      assert(m.constraints == Map("pos" -> "id > 0"), s"$what: ${m.constraints}")
      assert(m.props.get("owner").contains("ops"), s"$what: ${m.props}")
      assert(m.colmap == Map("memo" -> "note"), s"$what: ${m.colmap}")
      assert(m.dropped == Set("extra"), s"$what: ${m.dropped}")
      assert(m.txns == Map("app" -> 7L), s"$what: ${m.txns}")
      m.version
    }
    val t = SnapshotLog.read(spark, base).get
    assert(t.columns.toSeq == Seq("id", "value", "day", "memo"))
    assert(t.filter(col("id").isin(2L, 5L, 100L, 101L)).count() == 0)
    assert(t.filter(col("id") === 1L).select("memo").as[String].head() == "m1")
  }
}
