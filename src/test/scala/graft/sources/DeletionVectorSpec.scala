package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read row-level DML (deletion vectors) and O(manifest)
  * planning — the two storage-layer contracts added together:
  *
  *  - a DV delete commits per-file position vectors and rewrites ZERO
  *    data files; every read path (live, time travel, CDF, diff,
  *    metadata counts) sees through them; compaction materializes them
  *  - a manifest written by the current writers carries the table
  *    schema and per-file byte lengths, so building the
  *    planner-integrated relation touches NO data file — proven by
  *    planning with the data directory renamed away. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(prefix: String): (String, Path) = {
    val base = Files.createTempDirectory(prefix).toString + "/tbl"
    val rows = (1L to 300L).map(i =>
      (i, s"u${i % 7}", i * 1.5, s"d${i % 3}"))
      .toDF("id", "user", "value", "day")
    SnapshotLog.upsertBatch(spark, base, rows, Seq("id"), "id", "day",
      batchId = 1, maxRetries = 5, statsCols = Seq("id", "value"),
      clusterBy = Nil, clusterFiles = 16, opCol = None, writeCdf = false)
    (base, new Path(base))
  }
  private def fs(bp: Path) =
    bp.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("DV delete works on partition values needing URI escaping (#, space, %, +)") {
    // regression: _metadata.file_path is a URI — the filesystem layer
    // percent-encodes the on-disk dir name (itself already
    // Spark-escaped), so the (file, position) join key must DECODE it
    // or every DV/row-id lookup on such partitions misses silently
    val base = Files.createTempDirectory("graft_dv_esc").toString + "/tbl"
    val days = Seq("Brand#1", "a b", "p%x", "c+d")
    val rows = (1L to 200L).map(i => (i, i * 1.0, days((i % 4).toInt)))
      .toDF("id", "value", "day")
    SnapshotLog.upsertBatch(spark, base, rows, Seq("id"), "id", "day",
      batchId = 1, maxRetries = 5, statsCols = Seq("id"),
      clusterBy = Nil, clusterFiles = 8, opCol = None, writeCdf = false)
    SnapshotLog.deleteWhere(spark, base, col("id") % 10 === 3, "day",
      deletionVectors = true)
    val got = SnapshotLog.read(spark, base).get
    assert(got.count() == 180)
    assert(got.filter(col("id") % 10 === 3).count() == 0,
      "DV rows resurrected on an escaped partition value")
    // row tracking over the same escaped layout: ids resolve (non-null)
    SnapshotLog.setProperties(spark, base,
      Map(SnapshotLog.RowTrackingProp -> "true"))
    val ids = SnapshotRelation.read(spark, base, None, Some("day")).get
      .select(col(SnapshotLog.RowIdCol))
    assert(ids.filter(col(SnapshotLog.RowIdCol).isNull).count() == 0)
    assert(ids.distinct().count() == 180)
  }

  test("DV delete removes rows without rewriting any data file") {
    val (base, bp) = mkTable("graft_dv")
    val m1 = SnapshotLog.readManifest(fs(bp), bp).get

    val out = SnapshotLog.deleteWhere(spark, base,
      col("id") % 10 === 3, "day", deletionVectors = true).get
    assert(out.version == m1.version + 1)
    assert(out.droppedPartitions.isEmpty && out.rewrittenPartitions.isEmpty)

    val m2 = SnapshotLog.readManifest(fs(bp), bp).get
    assert(m2.files == m1.files,
      "a DV delete must not add, remove, or replace any data file")
    assert(m2.dvs.nonEmpty && m2.dvs.values.map(_.count).sum == 30)

    // live read sees the complement, exactly
    val live = SnapshotLog.read(spark, base).get
    assert(live.count() == 270)
    assert(live.filter(col("id") % 10 === 3).count() == 0)
    // untouched rows are bit-identical
    assert(live.agg(sum(col("id"))).head.getLong(0) ==
      (1L to 300L).filter(_ % 10 != 3).sum)

    // metadata COUNT(*) subtracts DV cardinalities — no scan
    assert(SnapshotLog.countRows(m2).contains(270L))
    val perPart = SnapshotLog.partitionCounts(m2).get
    assert(perPart.values.sum == 270L)

    // time travel: the pre-delete version still shows every row
    assert(SnapshotLog.readVersion(spark, base, m1.version).get.count() == 300)
  }

  test("second DV delete merges positions; compaction materializes") {
    val (base, bp) = mkTable("graft_dv2")
    SnapshotLog.deleteWhere(spark, base,
      col("id") <= 50, "day", deletionVectors = true).get
    // overlapping second delete: ids 41..80 — 30 NEW positions only
    SnapshotLog.deleteWhere(spark, base,
      col("id") > 40 && col("id") <= 80, "day", deletionVectors = true).get
    val m = SnapshotLog.readManifest(fs(bp), bp).get
    assert(m.dvs.values.map(_.count).sum == 80,
      "re-deleting an already-deleted position must not double-count")
    assert(SnapshotLog.read(spark, base).get.count() == 220)
    assert(SnapshotLog.countRows(m).contains(220L))

    // compaction reads THROUGH the DVs and drops the refs
    m.files.keySet.foreach { p =>
      SnapshotLog.optimizeTable(spark, base, "day", parts = Some(Seq(p)))
    }
    val mc = SnapshotLog.readManifest(fs(bp), bp).get
    assert(mc.dvs.isEmpty, "compaction must materialize deletion vectors")
    val live = SnapshotLog.read(spark, base).get
    assert(live.count() == 220)
    assert(live.filter(col("id") <= 80).count() == 0)
  }

  test("sidecar DVs (inline threshold 0) behave identically") {
    val (base, bp) = mkTable("graft_dv3")
    SnapshotLog.deleteWhere(spark, base,
      col("user") === "u3", "day", deletionVectors = true, dvInlineMax = 0).get
    val m = SnapshotLog.readManifest(fs(bp), bp).get
    assert(m.dvs.nonEmpty && m.dvs.values.forall(d =>
      d.sidecarRel.nonEmpty && d.inlineB64.isEmpty))
    val live = SnapshotLog.read(spark, base).get
    assert(live.filter(col("user") === "u3").count() == 0)
    assert(live.count() == 300 - (1L to 300L).count(_ % 7 == 3))

    // a later INLINE delete on a file that already has a sidecar DV
    // stays sidecar (positions never collect to the driver twice)
    SnapshotLog.deleteWhere(spark, base,
      col("user") === "u4", "day", deletionVectors = true).get
    val m2 = SnapshotLog.readManifest(fs(bp), bp).get
    val live2 = SnapshotLog.read(spark, base).get
    assert(live2.filter(col("user").isin("u3", "u4")).count() == 0)
    // snapshot the count NOW: live2's plan pins the v3 manifest's
    // sidecar files, which vacuum will legitimately reclaim below —
    // re-executing the stale frame afterwards must fail, like any
    // vacuumed-out time-travel reader (the Delta contract)
    val n2 = live2.count()
    assert(SnapshotLog.countRows(m2).contains(n2))

    // vacuum: LIVE sidecars survive (still referenced), reads intact
    val hfs = fs(bp)
    def dvFiles(): Long = {
      if (!hfs.exists(new Path(bp, "_dv"))) return 0L
      val it = hfs.listFiles(new Path(bp, "_dv"), true)
      var n = 0L
      while (it.hasNext) { if (it.next().isFile) n += 1 }
      n
    }
    assert(dvFiles() > 0)
    SnapshotLog.vacuum(spark, base, retentionMs = 0L)
    assert(dvFiles() > 0, "vacuum must keep referenced DV sidecars")
    assert(SnapshotLog.read(spark, base).get.count() == n2)

    // materialize the DVs and expire history: sidecars become orphans
    // and vacuum reclaims them
    m2.files.keySet.foreach(p =>
      SnapshotLog.optimizeTable(spark, base, "day", parts = Some(Seq(p))))
    SnapshotLog.expireVersions(spark, base, keepLast = 1)
    SnapshotLog.vacuum(spark, base, retentionMs = 0L)
    assert(dvFiles() == 0, "orphaned DV sidecars must be reclaimed")
    assert(SnapshotLog.read(spark, base).get.count() == n2)
  }

  test("CDF and diffVersions see DV deletes as delete rows") {
    val (base, bp) = mkTable("graft_dv4")
    val out = SnapshotLog.deleteWhere(spark, base,
      col("id") <= 10, "day", deletionVectors = true, writeCdf = true).get
    val feed = SnapshotLog.readCdf(spark, base).get
      .filter(col("_commit_version") === out.version)
    assert(feed.count() == 10)
    assert(feed.select("change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))

    val diff = SnapshotLog.diffVersions(
      spark, base, Seq("id"), out.version - 1, out.version).get
    assert(diff.filter(col("change_type") === "delete").count() == 10)
    assert(diff.filter(col("change_type") =!= "delete").count() == 0)
  }

  test("planning is O(manifest): relation builds with data dir renamed away") {
    val (base, bp) = mkTable("graft_omanifest")
    val hfs = fs(bp)
    val m = SnapshotLog.readManifest(hfs, bp).get
    assert(m.schemaJson.nonEmpty, "writer must record the schema header")
    assert(m.allFiles.forall(f =>
      m.stats.get(f).exists(_.contains(SnapshotLog.ByteSizeKey))),
      "writer must record per-file byte lengths")

    // hide the data: planning must not notice
    val dataDir = new Path(bp, "data")
    val hidden = new Path(bp, "data_hidden")
    assert(hfs.rename(dataDir, hidden))
    try {
      val (df, idx) = SnapshotRelation
        .applyWithIndex(spark, base, partCol = Some("day")).get
      assert(df.schema.fieldNames.toSeq == Seq("id", "user", "value", "day"))
      assert(idx.sizeInBytes > 0)
      // the physical plan builds too (listFiles runs off the manifest)
      df.filter(col("value") > 100.0).queryExecution.executedPlan
    } finally assert(hfs.rename(hidden, dataDir))

    // and with data back, the same relation path returns exact rows
    val live = SnapshotLog.read(spark, base).get
    assert(live.count() == 300)
  }

  test("plain read().filter() prunes files through the planner") {
    val (base, bp) = mkTable("graft_unified")
    // no explicit readRange/readPoint/applyWithIndex — the everyday
    // read path IS the planner-integrated relation now
    val df = SnapshotLog.read(spark, base, partCol = Some("day")).get
    val q = df.filter(col("day") === "d1")
    // collect() (not count()) so the metric lands on THIS queryExecution
    assert(q.collect().length == 100)
    val scanned = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.sum
    val m = SnapshotLog.readManifest(fs(bp), bp).get
    assert(scanned == m.files("d1").size.toLong &&
      scanned < m.allFiles.size.toLong,
      s"partition filter must prune to d1's files (scanned $scanned of ${m.allFiles.size})")
  }

  test("optimizeTable: whole-table OPTIMIZE is ONE commit") {
    val (base, bp) = mkTable("graft_opt1")
    val hfs = fs(bp)
    SnapshotLog.buildBlooms(spark, base, Seq("id"))
    SnapshotLog.deleteWhere(spark, base,
      col("id") % 10 === 7, "day", deletionVectors = true).get
    val m1 = SnapshotLog.readManifest(hfs, bp).get
    assert(m1.files.values.exists(_.size > 1) && m1.dvs.nonEmpty)
    val before = SnapshotLog.read(spark, base).get
      .orderBy("id").collect().toSeq

    val v = SnapshotLog.optimizeTable(spark, base, "day",
      statsCols = Seq("id", "value"))
    val m2 = SnapshotLog.readManifest(hfs, bp).get
    assert(v == m1.version + 1 && m2.version == v,
      "the whole maintenance pass must be exactly one commit")
    assert(m2.files.values.forall(_.size == 1),
      "every fragmented partition must compact to one file")
    assert(m2.dvs.isEmpty, "optimize must materialize deletion vectors")
    assert(m2.files.values.flatten.forall(f =>
      m2.blooms.get(f).exists(_.contains("id")) &&
        m2.stats.get(f).exists(s =>
          s.contains("id") && s.contains(SnapshotLog.ByteSizeKey))),
      "rewritten files need rebuilt blooms, fresh stats, and byte sizes")
    assert(SnapshotLog.read(spark, base).get.orderBy("id").collect().toSeq
      == before, "content must be byte-identical through OPTIMIZE")
    // second run: nothing to do, no version churn
    assert(SnapshotLog.optimizeTable(spark, base, "day") == 0L)
    assert(SnapshotLog.readManifest(hfs, bp).get.version == v)

    // DESCRIBE HISTORY: newest-first operations with metadata counts
    val hist = SnapshotLog.history(spark, base)
      .select("version", "operation", "n_deleted_rows", "n_rows")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(hist.map(_._1).toSeq == hist.map(_._1).sorted.reverse.toSeq)
    assert(hist.map(_._2).toSeq == Seq("OPTIMIZE", "DELETE_DV", "BLOOMS", "UPSERT"),
      s"history must name each version's operation, got ${hist.map(_._2).toSeq}")
    val dvRow = hist.find(_._2 == "DELETE_DV").get
    assert(dvRow._3 == 30 && dvRow._4 == 270,
      "DV version must report 30 deleted and 270 live rows from metadata")
    assert(hist.find(_._2 == "OPTIMIZE").get._3 == 0)
  }

  test("stats/bloom file-skipping still works after OPTIMIZE") {
    val (base, bp) = mkTable("graft_optblooms")
    SnapshotLog.buildBlooms(spark, base, Seq("id"))
    val m1 = SnapshotLog.readManifest(fs(bp), bp).get
    assert(m1.files.values.flatten.forall(f => m1.blooms.contains(f)))

    // OPTIMIZE ZORDER every partition (re-cluster by id into 4 files)
    m1.files.keySet.foreach { p =>
      SnapshotLog.optimizeTable(spark, base, "day", statsCols = Seq("id", "value"),
        parts = Some(Seq(p)), zorderBy = Seq("id"), clusterFiles = 4)
    }
    val m2 = SnapshotLog.readManifest(fs(bp), bp).get
    assert(m2.files.values.flatten.toSet.intersect(
      m1.files.values.flatten.toSet).isEmpty, "every file was rewritten")
    assert(m2.files.values.flatten.forall(f => m2.blooms.get(f).exists(_.contains("id"))),
      "compaction must REBUILD blooms for rewritten files, not drop them")

    // a point probe on a key that exists prunes to a strict file
    // subset and still finds its row
    val probe = 137L
    val files = SnapshotLog.filesForKey(m2, "id", probe)
    assert(files.size < m2.allFiles.size, "bloom skipping must engage")
    val got = SnapshotLog.readPoint(spark, base, "id", probe).get
    assert(got.count() == 1)
    // an absent key prunes everything (no false negatives by
    // construction, and 3 files at fpp 0.03 make survivors unlikely —
    // assert the definitive part only: the row set is empty)
    assert(SnapshotLog.readPoint(spark, base, "id", 999999L)
      .forall(_.count() == 0))
  }

  test("vacuum reclaims superseded sidecars at __f= granularity") {
    val (base, bp) = mkTable("graft_dv_partial")
    val hfs = fs(bp)
    // sidecar delete touching MANY files (u3 rows live in every day)
    SnapshotLog.deleteWhere(spark, base,
      col("user") === "u3", "day", deletionVectors = true, dvInlineMax = 0).get
    val m2 = SnapshotLog.readManifest(hfs, bp).get
    assert(m2.dvs.size > 1, "need several sidecar'd files for the test")

    // second sidecar delete superseding exactly ONE file's vector:
    // pick a still-live id FROM a file that already has a DV, so the
    // new delete provably merges into (and replaces) that vector
    val dvFile = m2.dvs.keys.min
    val victim = spark.read.parquet(s"$base/$dvFile")
      .filter(col("user") =!= "u3")
      .agg(min("id")).head.getLong(0)
    SnapshotLog.deleteWhere(spark, base,
      col("id") === victim, "day", deletionVectors = true, dvInlineMax = 0).get
    val m3 = SnapshotLog.readManifest(hfs, bp).get
    val superseded = m3.dvs.collect {
      case (f, dv) if m2.dvs.get(f).exists(_.sidecarRel != dv.sidecarRel) =>
        m2.dvs(f).sidecarRel.get
    }.toSeq
    val kept = m3.dvs.collect {
      case (f, dv) if m2.dvs.get(f).exists(_.sidecarRel == dv.sidecarRel) =>
        dv.sidecarRel.get
    }.toSeq
    assert(superseded.size == 1 && kept.nonEmpty)

    // expire the version still referencing the superseded vector, then
    // vacuum: ONLY its __f= subdir goes — the sibling subdirs of the
    // same job dir (still referenced by the live manifest) survive
    SnapshotLog.expireVersions(spark, base, keepLast = 1)
    SnapshotLog.vacuum(spark, base, retentionMs = 0L)
    superseded.foreach { rel =>
      assert(!hfs.exists(new Path(bp, rel)),
        s"superseded sidecar subdir $rel must be reclaimed")
    }
    kept.foreach { rel =>
      assert(hfs.exists(new Path(bp, rel)),
        s"still-referenced sibling sidecar $rel must survive")
    }
    // reads stay exact through the partial reclamation
    val live = SnapshotLog.read(spark, base).get
    assert(live.filter(col("user") === "u3" || col("id") === victim).count() == 0)
    assert(live.count() == 300 - (1L to 300L).count(i => i % 7 == 3 || i == victim))
  }
}
