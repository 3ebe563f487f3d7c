package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._

import graft.{GraftSessions, SparkSpec}

/** `graft.optimize.targetFileSize`: OPTIMIZE splits each rewritten
  * partition into ~ceil(bytes/target) files instead of folding to one
  * — the knob that keeps compaction from destroying scan parallelism
  * on huge partitions. Sizing comes from the manifest's `__bytes`
  * rollups (no extra scan); content is row-preserving either way. */
class OptimizeTargetSizeSpec extends SparkSpec {

  private lazy val s = GraftSessions.withExtensions(spark)

  test("byte target splits the fold; absent target keeps the one-file fold") {
    import s.implicits._
    val base = Files.createTempDirectory("graft_opt_target").toString + "/tbl"
    // several APPENDS fragment one partition (since r16 the merge path
    // rebalances its staged write to ~one file per partition value, so
    // repeated upserts into one day converge to one file — appends keep
    // each batch's files, the deliberate fragmentation)
    (1L to 4L).foreach { b =>
      val rows = (1L to 500L)
        .map(i => (b * 10000 + i, s"payload_${b}_$i" * 8, "d0"))
        .toDF("id", "text", "day")
      SnapshotLog.appendBatch(s, base, rows, "day", batchId = b)
    }
    val bp = new Path(base)
    val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val m0 = SnapshotLog.readManifest(fs, bp).get
    assert(m0.files("d0").size >= 2, "fixture must be fragmented")
    val totalRows = 4 * 500
    val bytes = m0.files("d0").flatMap(f =>
      m0.stats(f).get(SnapshotLog.ByteSizeKey).flatMap(_._1.toLongOption)).sum

    // no target: the historical one-file fold
    SnapshotLog.optimizeTable(s, base, "day")
    val m1 = SnapshotLog.readManifest(fs, bp).get
    assert(m1.files("d0").size == 1)
    assert(SnapshotLog.read(s, base).get.count() == totalRows)

    // fragment again (append: an upsert would rebalance the whole
    // partition back to one file and optimize would see nothing to
    // fold), then optimize under a quarter-of-total target
    val more = (1L to 500L).map(i => (50000 + i, s"x$i" * 8, "d0"))
      .toDF("id", "text", "day")
    SnapshotLog.appendBatch(s, base, more, "day", batchId = 9)
    val view = Catalog.registerSnapshotLog(s, "optt", "t1", base, Some("day"))
    s.sql(s"ALTER TABLE $view SET TBLPROPERTIES " +
      s"('${SnapshotLog.OptimizeTargetProp}' = '${math.max(bytes / 4, 1)}')")
    SnapshotLog.optimizeTable(s, base, "day")
    val m2 = SnapshotLog.readManifest(fs, bp).get
    val n = m2.files("d0").size
    assert(n >= 2 && n <= 8,
      s"a quarter-of-total target must split the fold (got $n files)")
    // row-preserving, and every output file got fresh byte rollups
    assert(SnapshotLog.read(s, base).get.count() == totalRows + 500)
    assert(m2.files("d0").forall(f =>
      m2.stats.get(f).exists(_.contains(SnapshotLog.ByteSizeKey))))
  }

  test("bucketed byte target: buckets split into same-tag files, joins stay exchange-free, maintenance converges") {
    import s.implicits._
    val base = Files.createTempDirectory("graft_opt_bkt").toString + "/tbl"
    s.sql(s"""
      CREATE TABLE optb.t (id BIGINT, text STRING, day STRING)
      USING graft_snapshot PARTITIONED BY (day) LOCATION '$base'
    """)
    s.sql(s"ALTER TABLE optb_t SET TBLPROPERTIES " +
      s"('${SnapshotLog.BucketCountProp}' = '4', " +
      s"'${SnapshotLog.BucketColsProp}' = 'id')")
    // four APPENDS leave ~4 tagged files per bucket in one partition
    // (an upsert would rewrite the whole partition back to one file
    // per bucket — appends are how bucketed fragmentation accrues)
    (1L to 4L).foreach { b =>
      (1L to 400L)
        .map(i => (b * 10000 + i, s"payload_${b}_$i" * 8, "d0"))
        .toDF("id", "text", "day")
        .createOrReplaceTempView("optb_src")
      s.sql("INSERT INTO optb_t SELECT * FROM optb_src")
    }
    val bp = new Path(base)
    val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val m0 = SnapshotLog.readManifest(fs, bp).get
    def byBucket(fls: Seq[String]): Map[Int, Seq[String]] =
      fls.groupBy(f => SnapshotLog.bucketIdOf(f).getOrElse(
        fail(s"untagged file on a bucketed table: $f")))
    assert(byBucket(m0.files("d0")).values.exists(_.size >= 2),
      "fixture must fragment at least one bucket")
    val partBytes = m0.files("d0").flatMap(f =>
      m0.stats(f).get(SnapshotLog.ByteSizeKey).flatMap(_._1.toLongOption)).sum
    // a 16th-of-partition target wants ~4 files per (4-bucket) bucket
    s.sql(s"ALTER TABLE optb_t SET TBLPROPERTIES " +
      s"('${SnapshotLog.OptimizeTargetProp}' = '${math.max(partBytes / 16, 1)}')")
    SnapshotLog.optimizeTable(s, base, "day")
    val m1 = SnapshotLog.readManifest(fs, bp).get
    val groups = byBucket(m1.files("d0"))
    assert(groups.values.exists(_.size >= 2),
      s"byte target must split at least one bucket: $groups")
    // every split file's CONTENT matches its tag — rows never cross
    // buckets (pmod(murmur3(id), 4) is the tag Spark's scan trusts)
    groups.foreach { case (bid, fls) =>
      fls.foreach { f =>
        val wrong = s.read.parquet(s"$base/$f")
          .filter(pmod(hash(col("id")), lit(4)) =!= bid).count()
        assert(wrong == 0, s"file $f carries rows outside bucket $bid")
      }
    }
    assert(SnapshotLog.read(s, base).get.count() == 4 * 400)
    // steady state: the split layout is compact under its budget —
    // neither maintenance verb rewrites it again
    assert(SnapshotLog.optimizeTable(s, base, "day") == 0L,
      "target-split layout must be OPTIMIZE steady state")
    assert(SnapshotLog.optimizeTable(s, base, "day", parts = Some(Seq("d0"))) == 0L,
      "compaction must not fold a target-split bucket back")
    // the bucketed scan still groups same-tag files: a self-join with
    // broadcast off plans ZERO exchanges over the split layout
    val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = s.table("optb_t")
      val j = t.select(col("id")).join(
        t.select(col("id"), col("text")), "id")
      assert(j.count() == 4 * 400)
      val nSh = (j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.size
      assert(nSh == 0,
        s"split-bucket self-join must stay exchange-free:\n" +
          j.queryExecution.executedPlan)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }
}
