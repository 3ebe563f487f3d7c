package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._

import graft.{GraftSessions, SparkSpec}

/** Column mapping ([[SnapshotLog.Manifest.colmap]]): RENAME COLUMN and
  * DROP COLUMN as metadata-only commits. Data files always carry
  * PHYSICAL names; the scan schema and a rename projection translate,
  * so stats/bloom/DV pruning (physically keyed) survives renames, and
  * a dropped column's tombstone makes re-adding the name safe — the
  * old bytes can never resurrect. */
class ColumnMappingSpec extends SparkSpec {

  private lazy val s = GraftSessions.withExtensions(spark)

  private def mk(name: String): (String, Path,
      org.apache.hadoop.fs.FileSystem, String) = {
    import s.implicits._
    val base = Files.createTempDirectory(s"graft_colmap_$name").toString + "/tbl"
    val rows = (1L to 200L).map(i => (i, i * 2.0, s"s${i % 4}", s"d${i % 3}"))
      .toDF("id", "amount", "status", "day")
    SnapshotLog.upsertBatch(s, base, rows, Seq("id"), "id", "day",
      batchId = 1, maxRetries = 5, statsCols = Seq("id", "amount"),
      clusterBy = Nil, clusterFiles = 4, opCol = None, writeCdf = false)
    val bp = new Path(base)
    val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val view = Catalog.registerSnapshotLog(s, "colmap", name, base, Some("day"))
    (base, bp, fs, view)
  }

  test("RENAME COLUMN is metadata-only; reads, filters, and stats pruning use the new name") {
    val (base, bp, fs, view) = mk("rename")
    val m1 = SnapshotLog.readManifest(fs, bp).get

    s.sql(s"ALTER TABLE $view RENAME COLUMN amount TO price")
    val m2 = SnapshotLog.readManifest(fs, bp).get
    assert(m2.files == m1.files && m2.stats == m1.stats,
      "rename must not touch files or stats")
    assert(m2.colmap == Map("price" -> "amount"))
    assert(m2.schema.get.fieldNames.toSeq ==
      Seq("id", "price", "status", "day"))

    // the re-pinned view reads and filters by the NEW name
    assert(s.sql(s"SELECT SUM(price) FROM $view").head.getDouble(0) ==
      (1L to 200L).map(_ * 2.0).sum)
    assert(s.sql(s"SELECT COUNT(*) FROM $view WHERE price > 300").head
      .getLong(0) == (1L to 200L).count(_ * 2.0 > 300))

    // stats pruning SURVIVES the rename: bounds are keyed by the
    // physical name, and the planner's data filters arrive in
    // physical terms after the rename projection pushes through
    val (df, idx) = SnapshotRelation.fromManifest(s, bp,
      SnapshotLog.readManifest(fs, bp).get, Some("day"))
    df.filter(col("price") > 1e9).count()
    val (kept, total) = idx.lastPruned.get
    assert(total > 0 && kept == 0,
      s"an impossible range on the renamed column must prune every file, got $kept/$total")

    // old versions still answer with the OLD name (per-version mapping)
    val old = SnapshotLog.readVersion(s, base, m1.version).get
    assert(old.columns.contains("amount") && !old.columns.contains("price"))
  }

  test("writes after a rename land the PHYSICAL name in new files") {
    val (base, bp, fs, view) = mk("renwrite")
    import s.implicits._
    s.sql(s"ALTER TABLE $view RENAME COLUMN amount TO price")

    // upsert through the Scala API with the new logical name
    val batch = Seq((500L, 999.5, "s0", "d0")).toDF("id", "price", "status", "day")
    SnapshotLog.upsertBatch(s, base, batch, Seq("id"), "id", "day",
      batchId = 2, maxRetries = 5, statsCols = Seq("id", "price"),
      clusterBy = Nil, clusterFiles = 4, opCol = None, writeCdf = false)
    val m = SnapshotLog.readManifest(fs, bp).get
    // footers of the rewritten partition's files carry the PHYSICAL name
    val f = m.files("d0").head
    val footer = s.read.parquet(new Path(bp, f).toString).schema.fieldNames.toSeq
    assert(footer.contains("amount") && !footer.contains("price"),
      s"staged files must store physical names, got $footer")
    // and the logical read still shows one consistent column
    assert(SnapshotLog.read(s, base).get
      .filter(col("id") === 500L).head.getDouble(1) == 999.5)
    // SQL UPDATE through the new name
    s.sql(s"UPDATE $view SET price = price + 1 WHERE id = 500")
    assert(s.sql(s"SELECT price FROM $view WHERE id = 500").head.getDouble(0)
      == 1000.5)
  }

  test("DROP COLUMN tombstones the physical slot; a re-added name cannot resurrect old bytes") {
    val (base, bp, fs, view) = mk("drop")
    val m1 = SnapshotLog.readManifest(fs, bp).get

    s.sql(s"ALTER TABLE $view DROP COLUMN status")
    val m2 = SnapshotLog.readManifest(fs, bp).get
    assert(m2.files == m1.files, "drop must be metadata-only")
    assert(m2.dropped == Set("status"))
    assert(!s.sql(s"SELECT * FROM $view").columns.contains("status"))
    intercept[Exception](s.sql(s"SELECT status FROM $view").collect())

    // re-add the SAME logical name: fresh physical slot, reads NULL
    s.sql(s"ALTER TABLE $view ADD COLUMNS (status STRING)")
    val m3 = SnapshotLog.readManifest(fs, bp).get
    assert(m3.colmap.get("status").exists(_ != "status"),
      s"re-added column must map to a fresh physical name, got ${m3.colmap}")
    assert(s.sql(s"SELECT COUNT(*) FROM $view WHERE status IS NULL").head
      .getLong(0) == 200L,
      "re-added column must be NULL everywhere — never the dropped bytes")

    // a write fills the fresh slot; old rows stay NULL
    s.sql(s"UPDATE $view SET status = 'new' WHERE id <= 10")
    assert(s.sql(s"SELECT COUNT(*) FROM $view WHERE status = 'new'").head
      .getLong(0) == 10L)
    assert(s.sql(s"SELECT COUNT(*) FROM $view WHERE status IS NULL").head
      .getLong(0) == 190L)

    // compaction materializes the drop: the tombstoned physical column
    // disappears from rewritten files
    SnapshotLog.optimizeTable(s, base, "day", parts = Some(Seq("d1")))
    val m4 = SnapshotLog.readManifest(fs, bp).get
    val footer = s.read.parquet(
      new Path(bp, m4.files("d1").head).toString).schema.fieldNames.toSet
    assert(!footer.contains("status") || m4.colmap("status") != "status",
      "rewrite must not re-stage the tombstoned slot")

    // time travel to the pre-drop version still reads the old values
    val old = SnapshotLog.readVersion(s, base, m1.version).get
    assert(old.select("status").distinct().count() == 4)
  }

  test("rename/drop refuse the partition column and constraint-referenced columns") {
    val (_, _, _, view) = mk("refuse")
    intercept[Exception](s.sql(s"ALTER TABLE $view RENAME COLUMN day TO dt"))
    intercept[Exception](s.sql(s"ALTER TABLE $view DROP COLUMN day"))
    s.sql(s"ALTER TABLE $view ADD CONSTRAINT amt_pos CHECK (amount >= 0)")
    intercept[Exception](s.sql(s"ALTER TABLE $view RENAME COLUMN amount TO price"))
    intercept[Exception](s.sql(s"ALTER TABLE $view DROP COLUMN amount"))
    s.sql(s"ALTER TABLE $view DROP CONSTRAINT amt_pos")
    s.sql(s"ALTER TABLE $view RENAME COLUMN amount TO price")
    intercept[Exception](s.sql(s"ALTER TABLE $view RENAME COLUMN id TO price"))
  }

  test("RESTORE rolls the mapping back with the schema; CLONE copies it") {
    val (base, bp, fs, view) = mk("restore")
    val m1 = SnapshotLog.readManifest(fs, bp).get
    s.sql(s"ALTER TABLE $view RENAME COLUMN amount TO price")

    val cloneBase =
      Files.createTempDirectory("graft_colmap_clone").toString + "/tbl"
    SnapshotLog.cloneTable(s, base, cloneBase)
    val cm = SnapshotLog.readManifest(fs, new Path(cloneBase)).get
    assert(cm.colmap == Map("price" -> "amount"),
      "clone must copy the mapping (it reads the source's physical files)")
    assert(SnapshotLog.read(s, cloneBase).get.columns.contains("price"))

    s.sql(s"RESTORE TABLE $view TO VERSION AS OF ${m1.version}")
    val mr = SnapshotLog.readManifest(fs, bp).get
    assert(mr.colmap.isEmpty &&
      mr.schema.get.fieldNames.contains("amount"),
      "restore must roll the mapping back with the schema")
    assert(s.sql(s"SELECT SUM(amount) FROM $view").head.getDouble(0) ==
      (1L to 200L).map(_ * 2.0).sum)
  }

  test("DELETE with deletion vectors and CDF read-back survive a rename") {
    val (base, bp, fs, view) = mk("dvcdf")
    s.sql(s"ALTER TABLE $view SET TBLPROPERTIES " +
      s"('${SnapshotLog.CdfProp}' = 'true')")
    s.sql(s"ALTER TABLE $view RENAME COLUMN amount TO price")
    s.sql(s"DELETE FROM $view WHERE price > 380")
    val m = SnapshotLog.readManifest(fs, bp).get
    assert(m.dvs.nonEmpty, "row delete must take the DV path")
    assert(s.sql(s"SELECT COUNT(*) FROM $view").head.getLong(0) ==
      (1L to 200L).count(_ * 2.0 <= 380))
    // the feed of the delete version speaks the CURRENT logical name
    val feed = SnapshotLog.readCdf(s, base).get
      .filter(col("_commit_version") === m.version)
    assert(feed.columns.contains("price"))
    assert(feed.count() == (1L to 200L).count(_ * 2.0 > 380))
  }
}
