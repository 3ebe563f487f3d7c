package graft.sources

import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FilterFileSystem, Path}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.io.LocalFs
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** The engine's fork-free raw local file system ([[LocalFs.Raw]]) under
  * the `rootcount` scheme, recording every open of a commit-log root
  * (`_log/v<version>.txt`). It can also lose publishes: while [[RootOpenCountingFs.losePublishes]] has
  * losses left, a rename onto a root fails as if another writer had
  * claimed that version first. */
class RootOpenCountingFs extends FilterFileSystem(new LocalFs.Raw {
  override def getUri: URI = URI.create("rootcount:///")
}) {
  private def isRoot(f: Path): Boolean =
    f.getParent != null && f.getParent.getName == "_log" &&
      f.getName.matches("v\\d+\\.txt")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (isRoot(f)) RootOpenCountingFs.opens.add(f.getName)
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean =
    if (isRoot(dst) && RootOpenCountingFs.losses.getAndUpdate(n => math.max(n - 1, 0)) > 0)
      false
    else super.rename(src, dst)
}

object RootOpenCountingFs {
  val opens = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private[sources] val losses = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The next `n` publishes onto a root lose their race. */
  def losePublishes(n: Int): Unit = losses.set(n)

  /** Root name → times `body` opened it. */
  def counted(body: => Any): Map[String, Int] = {
    opens.clear()
    body
    opens.asScala.toSeq.groupBy(identity).map { case (n, xs) => n -> xs.size }
  }
}

/** Commit-log table contract: snapshot isolation (readers see only
  * manifest-referenced files), O(changed partitions) per upsert,
  * convergent replay over orphans from a crashed commit, optimistic-
  * concurrency conflict on the version rename, and vacuum reclaiming
  * exactly the unreferenced files. */
class SnapshotLogSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Long) = new Timestamp(1700000000000L + min * 60000L)

  private def mkChanges(rows: (Long, Long, String, Double)*) =
    rows.map { case (id, uid, et, v) => Event(id, t(id), uid, et, v) }
      .toDF()
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))

  test("in-commit timestamps: monotone, and TIMESTAMP AS OF survives mtime churn") {
    val base = Files.createTempDirectory("graft_ict").toString + "/tbl"
    (1L to 3L).foreach { b =>
      val rows = Seq((b, b, s"d0")).toDF("id", "v", "day")
      SnapshotLog.upsertBatch(spark, base, rows, Seq("id"), "v", "day",
        batchId = b, maxRetries = 5, statsCols = Nil, clusterBy = Nil,
        clusterFiles = 2, opCol = None, writeCdf = false)
    }
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // history reports the in-commit stamps, strictly increasing even
    // for back-to-back commits (max(now, prev+1))
    val hist = SnapshotLog.history(spark, base)
      .select("version", "timestamp").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    val vs = hist.keys.toSeq.sorted
    assert(vs.size == 3)
    vs.sliding(2).foreach { case Seq(a, b) =>
      assert(hist(a) < hist(b),
        s"in-commit stamps must be strictly monotone: $hist")
    }
    val v2 = vs(1)
    assert(SnapshotLog.versionAsOfTime(spark, base, hist(v2)) == Some(v2))
    assert(SnapshotLog.versionAsOfTime(spark, base, hist(v2) + 0) == Some(v2))
    // storage migration: every root file's MODIFICATION time churns to
    // the same instant — the mtime clock now says "all versions are
    // equally old", but resolution and history answer from #ts
    val dir = new Path(bp, "_log")
    fs.listStatus(dir).filter(_.getPath.getName.startsWith("v"))
      .foreach(st => fs.setTimes(st.getPath, 1000L, -1L))
    assert(SnapshotLog.versionAsOfTime(spark, base, hist(v2)) == Some(v2),
      "TIMESTAMP AS OF must resolve from in-commit stamps, not mtime")
    assert(SnapshotLog.versionAsOfTime(spark, base, hist(v2) - 1)
      == Some(vs.head))
    val hist2 = SnapshotLog.history(spark, base)
      .select("version", "timestamp").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(hist2 == hist, "history timestamps must survive mtime churn")
  }

  test("upsert batches merge correctly and only touch changed partitions") {
    val base = Files.createTempDirectory("graft_snaplog").toString + "/tbl"
    // batch 1: two days via far-apart event ids (1440 min = 1 day)
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 2, "a", 20.0), (1441, 3, "a", 30.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m1 = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(m1.version == 1 && m1.files.keySet.size == 2)

    // batch 2 touches only day 0 (update user 2, insert user 4)
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((3, 2, "b", 25.0), (4, 4, "a", 40.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 2)
    val m2 = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(m2.version == 2)
    val day1 = m1.files.keySet.max // the later day
    assert(m2.files(day1) == m1.files(day1),
      "untouched partition must keep its exact file list")
    assert(m2.files(m1.files.keySet.min) != m1.files(m1.files.keySet.min))

    val got = SnapshotLog.read(spark, base).get
      .select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1L, "a", 10.0), (2L, "b", 25.0), (3L, "a", 30.0), (4L, "a", 40.0)))

    // manifest-level pruning reads only the named partition's files
    val pruned = SnapshotLog.readPartitions(spark, base, Seq(day1)).get
    assert(pruned.select("user_id").collect().map(_.getLong(0)).toSet == Set(3L))

    // time travel: version 1 still reads as the pre-batch-2 state, and
    // vacuum (which keeps every committed version's files) preserves it
    SnapshotLog.vacuum(spark, base)
    val v1 = SnapshotLog.readVersion(spark, base, 1).get
      .select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(v1 == Set((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0)),
      s"time-travel read of v1 drifted: $v1")
    assert(SnapshotLog.readVersion(spark, base, 7).isEmpty)
  }

  test("orphans from a crashed commit are invisible and replay converges") {
    val base = Files.createTempDirectory("graft_snaplog_crash").toString + "/tbl"
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 2, "a", 20.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    // simulate a crash AFTER data write, BEFORE manifest commit: data
    // files exist under a version dir no manifest references
    val orphanDir = s"$base/data/b99v9/p0"
    mkChanges((5, 5, "x", 99.0)).write.mode("overwrite").parquet(orphanDir)
    val before = SnapshotLog.read(spark, base).get.count()
    assert(before == 2, "unreferenced files must be invisible to readers")
    // the replayed batch commits normally on top
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((3, 2, "b", 25.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 99)
    val got = SnapshotLog.read(spark, base).get
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 10.0), (2L, 25.0)))
    // the default retention window protects young unreferenced files —
    // they may belong to an in-flight writer about to commit
    assert(SnapshotLog.vacuum(spark, base) == 0L,
      "files younger than the retention window must survive vacuum")
    // retention 0 (single-writer maintenance) reclaims exactly the
    // never-referenced orphans
    val removed = SnapshotLog.vacuum(spark, base, retentionMs = 0L)
    assert(removed >= 1, "orphan parquet files should be deleted")
    assert(SnapshotLog.read(spark, base).get.count() == 2,
      "vacuum must not touch referenced files")
  }

  test("vacuum keeps live files of a STATS-recording table (manifest line parse)") {
    // regression: a stats-carrying manifest line is `part\tfile\tstats`;
    // building vacuum's referenced-set with split(limit=2) kept the
    // stats glued to the file field, so every stats-recorded live file
    // looked unreferenced and a past-retention vacuum deleted it
    val base = Files.createTempDirectory("graft_snaplog_vacstats").toString + "/tbl"
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 2, "a", 20.0)),
      Seq("user_id"), "ts", "day", batchId = 1, maxRetries = 5,
      statsCols = Seq("value", "user_id"), clusterBy = Nil,
      clusterFiles = 4, opCol = None, writeCdf = false)
    assert(SnapshotLog.vacuum(spark, base, retentionMs = 0L) == 0L,
      "vacuum deleted live files referenced by a stats-carrying manifest")
    assert(SnapshotLog.read(spark, base).get.count() == 2)
  }

  test("add-column schema evolution: old partitions backfill NULL at read") {
    val base = Files.createTempDirectory("graft_snaplog_evo").toString + "/tbl"
    // batch 1: original schema, two days
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (1441, 3, "a", 30.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    // batch 2: the change stream gains a column, touching only day 0
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((2, 2, "b", 25.0)).withColumn("source", lit("cdc-v2")),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 2)
    val got = SnapshotLog.read(spark, base).get
      .select(col("user_id"), col("source")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(
      1L -> None,           // same partition as the batch but not changed:
                            // struct-pick keeps the base row, source backfills NULL
      2L -> Some("cdc-v2"), // the evolved change row carries the new column
      3L -> None),          // untouched partition: NULL backfill at read
      s"schema evolution wrong: $got")
  }

  test("compaction shrinks a partition's file list without changing content") {
    val base = Files.createTempDirectory("graft_snaplog_compact").toString + "/tbl"
    // one upsert + two APPENDS into the same day → 3 files in one
    // partition (a merge REWRITES the partition, and since r16 the
    // staged merge write is rebalanced to ~one file per partition
    // value, so repeated upserts no longer leave task-fanout fragments
    // — appends are the deliberate fragmentation)
    SnapshotLog.upsertBatch(spark, base, mkChanges((1, 1, "a", 10.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    SnapshotLog.appendBatch(spark, base, mkChanges((2, 2, "a", 20.0)),
      "day", batchId = 2)
    SnapshotLog.appendBatch(spark, base, mkChanges((3, 3, "a", 30.0)),
      "day", batchId = 3)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m3 = SnapshotLog.readManifest(fs, new Path(base)).get
    val day = m3.files.keySet.head
    val before = SnapshotLog.read(spark, base).get
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

    val v = SnapshotLog.optimizeTable(spark, base, "day", parts = Some(Seq(day)))
    assert(v == m3.version + 1)
    val mAfter = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(mAfter.files(day).size == 1,
      s"compaction should leave one file, got ${mAfter.files(day)}")
    val after = SnapshotLog.read(spark, base).get
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(after == before, "compaction must not change table content")
    // pre-compaction version still time-travels to the old layout
    assert(SnapshotLog.readVersion(spark, base, m3.version).get.count() == 3)
    // nothing left to do → version 0 signals no-op
    assert(SnapshotLog.optimizeTable(spark, base, "day", parts = Some(Seq(day))) == 0L)
  }

  /** A hand-built manifest the commit gate accepts: a schema header
    * and a byte length for each file. */
  private def handBuilt(v: Long, part: String, file: String) =
    SnapshotLog.Manifest(v, Map(part -> Seq(file)),
      stats = Map(file -> Map(SnapshotLog.ByteSizeKey -> ("1", "1"))),
      schemaJson = Some(new StructType().add("id", LongType).json))

  test("version rename refuses to overwrite: lost races surface as conflicts") {
    val base = Files.createTempDirectory("graft_snaplog_cc").toString + "/tbl"
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SnapshotLog.tryCommit(fs, bp, handBuilt(1, "a", "data/x.parquet")))
    assert(!SnapshotLog.tryCommit(fs, bp, handBuilt(1, "b", "data/y.parquet")),
      "second writer of the same version must lose")
    assert(SnapshotLog.readManifest(fs, bp).get.files.keySet == Set("a"))
  }

  test("an in-flight (footer-less) manifest is invisible and never blocks the chain") {
    val base = Files.createTempDirectory("graft_snaplog_inflight").toString + "/tbl"
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SnapshotLog.tryCommit(fs, bp, handBuilt(1, "a", "data/x.parquet")))
    // simulate a writer that claimed v2 and died before finishing: the
    // manifest file exists but carries no footer
    val dead = new Path(bp, "_log/v00000000002.txt")
    val out = fs.create(dead, false)
    try out.write("a\tdata/half.parquet\n".getBytes("UTF-8")) finally out.close()
    // readers fall back to the newest COMPLETE version
    assert(SnapshotLog.readManifest(fs, bp).get.version == 1L)
    assert(SnapshotLog.readManifestAt(fs, bp, 2L).isEmpty,
      "a footer-less manifest must read as absent")
    // writers allocate PAST the dead claim instead of colliding forever
    SnapshotLog.upsertBatch(spark, base, mkChanges((1, 1, "a", 10.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    val m = SnapshotLog.readManifest(fs, bp).get
    assert(m.version == 3L, s"expected the new commit at v3, got v${m.version}")
  }

  test("file-level stats: recorded at write, prune files, readRange exact") {
    val base = Files.createTempDirectory("graft_snaplog_stats").toString + "/tbl"
    // two days with disjoint value ranges → per-file bounds are disjoint
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 2, "a", 15.0),
        (1441, 3, "a", 500.0), (1442, 4, "a", 510.0)),
      keys = Seq("user_id"), orderCol = "ts", partCol = "day", batchId = 1,
      maxRetries = 5, statsCols = Seq("value"), clusterBy = Nil, clusterFiles = 16, opCol = None, writeCdf = false)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(m.allFiles.nonEmpty && m.allFiles.forall(f =>
      m.stats.get(f).exists(_.contains("value"))),
      s"every staged file needs value bounds: ${m.stats}")
    // bounds survive the manifest round-trip and prune day-1's files
    val hit = SnapshotLog.filesForRange(m, "value", 12.0, 20.0)
    assert(hit.nonEmpty && hit.size < m.allFiles.size,
      s"a selective range must prune some files: $hit of ${m.allFiles}")
    assert(hit.forall(m.files(m.files.keySet.min).contains),
      "only the low-value day's files can match [12, 20]")
    // the pruned read returns exactly the predicate's rows
    val got = SnapshotLog.readRange(spark, base, "value", 12.0, 20.0).get
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L), s"readRange rows wrong: $got")
    // a range no file can match reads as None, zero files listed
    assert(SnapshotLog.readRange(spark, base, "value", 9000.0, 9001.0).isEmpty)
  }

  test("composite-key upsert merges on the full column tuple") {
    val base = Files.createTempDirectory("graft_snaplog_ck").toString + "/tbl"
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 1, "b", 20.0)),
      keys = Seq("user_id", "event_type"), orderCol = "ts", partCol = "day",
      batchId = 1, maxRetries = 5, statsCols = Nil, clusterBy = Nil, clusterFiles = 16, opCol = None, writeCdf = false)
    // same user, one event_type updated — the other must survive
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((3, 1, "b", 99.0)),
      keys = Seq("user_id", "event_type"), orderCol = "ts", partCol = "day",
      batchId = 2, maxRetries = 5, statsCols = Nil, clusterBy = Nil, clusterFiles = 16, opCol = None, writeCdf = false)
    val got = SnapshotLog.read(spark, base).get
      .select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1L, "a", 10.0), (1L, "b", 99.0)), s"composite merge wrong: $got")
  }

  test("compaction with statsCols refreshes bounds so pruning survives maintenance") {
    val base = Files.createTempDirectory("graft_snaplog_cstat").toString + "/tbl"
    SnapshotLog.upsertBatch(spark, base, mkChanges((1, 1, "a", 10.0)),
      keys = Seq("user_id"), orderCol = "ts", partCol = "day", batchId = 1,
      maxRetries = 5, statsCols = Seq("value"), clusterBy = Nil, clusterFiles = 16, opCol = None, writeCdf = false)
    SnapshotLog.upsertBatch(spark, base, mkChanges((2, 2, "a", 20.0)),
      keys = Seq("user_id"), orderCol = "ts", partCol = "day", batchId = 2,
      maxRetries = 5, statsCols = Seq("value"), clusterBy = Nil, clusterFiles = 16, opCol = None, writeCdf = false)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val day = SnapshotLog.readManifest(fs, new Path(base)).get.files.keySet.head
    val v = SnapshotLog.optimizeTable(spark, base, "day", statsCols = Seq("value"),
      parts = Some(Seq(day)))
    assert(v > 0L)
    val m = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(m.files(day).size == 1 &&
      m.stats.get(m.files(day).head).exists(_.contains("value")),
      s"compacted file must carry refreshed bounds: ${m.stats}")
    // the refreshed bounds still prune: nothing matches far outside
    assert(SnapshotLog.filesForRange(m, "value", 9000.0, 9001.0).isEmpty)
    assert(SnapshotLog.readRange(spark, base, "value", 15.0, 25.0).get
      .select("user_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("clustered compaction (OPTIMIZE ZORDER) makes file bounds selective") {
    val base = Files.createTempDirectory("graft_snaplog_zopt").toString + "/tbl"
    // one day, values 1..200 arriving hash-ordered: every staged file's
    // [min,max] spans nearly the whole domain, so bounds can't prune
    val rows = (1 to 200).map(i => (i.toLong, (i % 97).toLong + 1, "a",
      ((i * 131) % 200 + 1).toDouble))
    SnapshotLog.upsertBatch(spark, base,
      mkChanges(rows.map(r => (r._1 % 100, r._1, r._3, r._4)): _*),
      keys = Seq("event_id"), orderCol = "ts", partCol = "day", batchId = 1,
      maxRetries = 5, statsCols = Seq("value"), clusterBy = Nil,
      clusterFiles = 16, opCol = None, writeCdf = false)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m0 = SnapshotLog.readManifest(fs, new Path(base)).get
    val day = m0.files.keySet.head
    val narrowBefore = SnapshotLog.filesForRange(m0, "value", 10.0, 20.0).size
    val before = SnapshotLog.read(spark, base).get
      .select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

    val v = SnapshotLog.optimizeTable(spark, base, "day", statsCols = Seq("value"),
      parts = Some(Seq(day)), zorderBy = Seq("value"), clusterFiles = 4)
    assert(v > 0L)
    val m1 = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(m1.files(day).size == 4, s"expected 4 clustered files: ${m1.files(day)}")
    // after clustering, a narrow value range hits a strict subset of files
    val narrowAfter = SnapshotLog.filesForRange(m1, "value", 10.0, 20.0).size
    assert(narrowAfter < m1.files(day).size,
      s"clustered bounds must prune: $narrowAfter of ${m1.files(day).size}")
    assert(narrowAfter <= narrowBefore || narrowBefore == m0.files(day).size)
    // content is unchanged by the re-layout
    val after = SnapshotLog.read(spark, base).get
      .select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(after == before)
    // pruned read stays exact
    assert(SnapshotLog.readRange(spark, base, "value", 10.0, 20.0).get
      .select("value").collect().map(_.getDouble(0))
      .forall(x => x >= 10.0 && x <= 20.0))
  }

  test("bloom index: metadata-only commit, definitive negatives, dropped on rewrite") {
    val base = Files.createTempDirectory("graft_snaplog_bloom").toString + "/tbl"
    // two days so a later single-day rewrite leaves one bloom intact
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 2, "a", 20.0), (1441, 3, "a", 30.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = SnapshotLog.readManifest(fs, new Path(base)).get
    val v = SnapshotLog.buildBlooms(spark, base, Seq("event_id"))
    assert(v == before.version + 1)
    val m = SnapshotLog.readManifest(fs, new Path(base)).get
    // metadata-only: same files, blooms on every one, round-tripped
    // through the manifest grammar next to the stats field
    assert(m.files == before.files)
    assert(m.allFiles.forall(f => m.blooms.get(f).exists(_.contains("event_id"))))
    // present keys are found; absent keys prune every file (definitive)
    assert(SnapshotLog.readPoint(spark, base, "event_id", 1441L).get
      .select("user_id").collect().map(_.getLong(0)).toSet == Set(3L))
    assert(SnapshotLog.filesForKey(m, "event_id", 777777L).isEmpty ||
      SnapshotLog.readPoint(spark, base, "event_id", 777777L).get.count() == 0)
    // time travel to the pre-bloom version still works
    assert(SnapshotLog.readVersion(spark, base, before.version).get.count() == 3)
    // rewriting day 0 drops its files' blooms (conservative — never
    // stale), keeps day 1's
    val day1 = m.files.keySet.max
    SnapshotLog.upsertBatch(spark, base, mkChanges((5, 1, "b", 11.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 2)
    val m2 = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(m2.files(day1).forall(f => m2.blooms.contains(f)),
      "untouched partition keeps its blooms")
    assert(m2.files(m2.files.keySet.min).forall(f => !m2.blooms.contains(f)),
      "rewritten files must not inherit stale blooms")
    // bloom-less files are never pruned: the new key is still found
    assert(SnapshotLog.readPoint(spark, base, "event_id", 5L).get
      .select("value").collect().map(_.getDouble(0)).toSet == Set(11.0))
  }

  test("metadata counts: exact after merges, None when any file lacks them") {
    val base = Files.createTempDirectory("graft_snaplog_mcount").toString + "/tbl"
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 2, "a", 20.0), (1441, 3, "a", 30.0)),
      keys = Seq("user_id"), orderCol = "ts", partCol = "day", batchId = 1,
      maxRetries = 5, statsCols = Seq("value"), clusterBy = Nil,
      clusterFiles = 16, opCol = None, writeCdf = false)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def m = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(SnapshotLog.countRows(m).contains(3L))
    // merge bookkeeping: update (no count change) + insert (+1)
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((3, 2, "b", 25.0), (4, 4, "a", 40.0)),
      keys = Seq("user_id"), orderCol = "ts", partCol = "day", batchId = 2,
      maxRetries = 5, statsCols = Seq("value"), clusterBy = Nil,
      clusterFiles = 16, opCol = None, writeCdf = false)
    assert(SnapshotLog.countRows(m).contains(4L))
    assert(SnapshotLog.partitionCounts(m).get.values.sum == 4L)
    // a statsCols-less compaction still records the footer ROW COUNT
    // (free bookkeeping at every commit) — only the value BOUNDS go
    // missing, so countability survives maintenance
    val day0 = m.files.keySet.min
    SnapshotLog.optimizeTable(spark, base, "day", parts = Some(Seq(day0)))
    assert(SnapshotLog.countRows(m).contains(4L))
    assert(SnapshotLog.partitionCounts(m).get.values.sum == 4L)
    // the ANALYZE pass backfills bounds for ONLY the stats-less file,
    // metadata-only commit — prunability restored without a rewrite
    val statsV = SnapshotLog.computeStats(spark, base, Seq("value"))
    assert(statsV > 0L)
    assert(SnapshotLog.countRows(m).contains(4L))
    assert(SnapshotLog.partitionCounts(m).get.values.sum == 4L)
    // idempotent: nothing missing → no new version
    assert(SnapshotLog.computeStats(spark, base, Seq("value")) == 0L)
  }

  test("diffVersions prunes to partitions whose file lists differ") {
    val base = Files.createTempDirectory("graft_snaplog_pdiff").toString + "/tbl"
    // ids 1440 min apart land on distinct days; derive the strings from data
    def dayOf(id: Long): String =
      mkChanges((id, 0, "x", 0.0)).select("day").first().getString(0)
    // batch 1: users 1/2/3 on three distinct days
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (1441, 2, "a", 20.0), (2881, 3, "a", 30.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    // batch 2 touches ONLY user 2's day (update) and a brand-new day (insert)
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1442, 2, "a", 25.0), (4321, 4, "a", 40.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 2)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m1 = SnapshotLog.readManifestAt(fs, new Path(base), 1L).get
    val m2 = SnapshotLog.readManifestAt(fs, new Path(base), 2L).get
    // manifest-only pruning: the untouched days of users 1 and 3 are excluded
    assert(SnapshotLog.changedPartitions(m1, m2) ==
      Seq(dayOf(1441), dayOf(4321)).sorted)
    assert(SnapshotLog.changedPartitions(m1, m1).isEmpty)
    // the pruned diff still carries exactly the real changes
    val feed = SnapshotLog.diffVersions(spark, base, Seq("user_id"), 1L, 2L).get
    val got = feed.select("user_id", "value", "change_type")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set(
      (2L, 20.0, "update_preimage"), (2L, 25.0, "update_postimage"),
      (4L, 40.0, "insert")))
    // the unchanged-partition users never enter the feed
    assert(!got.exists(r => r._1 == 1L || r._1 == 3L))
    // identical versions: empty feed, schema intact
    val same = SnapshotLog.diffVersions(spark, base, Seq("user_id"), 2L, 2L).get
    assert(same.count() == 0L)
    assert(same.columns.contains("change_type"))
  }

  test("deleteWhere: partition predicate is metadata-only; row predicate rewrites only matching partitions") {
    val base = Files.createTempDirectory("graft_snaplog_del").toString + "/tbl"
    def dayOf(id: Long): String =
      mkChanges((id, 0, "x", 0.0)).select("day").first().getString(0)
    // day A: users 1 (10.0) and 5 (99.0); day B: user 2 (25.0); day C: user 3 (5.0)
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 5, "a", 99.0), (1441, 2, "a", 25.0),
        (2881, 3, "a", 5.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (dayA, dayB, dayC) = (dayOf(1), dayOf(1441), dayOf(2881))

    // 1. partition predicate: metadata-only drop of day C, no file IO
    val m1 = SnapshotLog.readManifest(fs, new Path(base)).get
    val o1 = SnapshotLog.deleteWhere(spark, base,
      col("day") === dayC, "day", writeCdf = true).get
    assert(o1.metadataOnly && o1.droppedPartitions == Seq(dayC)
      && o1.rewrittenPartitions.isEmpty)
    val m2 = SnapshotLog.readManifest(fs, new Path(base)).get
    // untouched partitions keep their EXACT file lists (nothing rewritten)
    assert(m2.files == m1.files - dayC)
    // dropped data files still exist on disk: old versions time-travel
    assert(SnapshotLog.readVersion(spark, base, m1.version).get.count() == 4L)

    // 2. row predicate: value > 20 hits day A (partial) and day B (all rows)
    val o2 = SnapshotLog.deleteWhere(spark, base,
      col("value") > 20.0, "day", writeCdf = true).get
    assert(!o2.metadataOnly)
    assert(o2.droppedPartitions == Seq(dayB) && o2.rewrittenPartitions == Seq(dayA))
    val m3 = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(!m3.files.contains(dayB))
    val left = SnapshotLog.read(spark, base).get
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(left == Set((1L, 10.0)))

    // 3. the materialized feed carries exactly the deleted rows, typed
    val cdf = SnapshotLog.readCdf(spark, base).get
      .select("user_id", "change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(cdf == Set(
      (3L, "delete", o1.version), (5L, "delete", o2.version),
      (2L, "delete", o2.version)))

    // 4. no matches → no new version, current state untouched
    val o3 = SnapshotLog.deleteWhere(spark, base,
      col("value") > 1e9, "day").get
    assert(o3.version == m3.version && o3.droppedPartitions.isEmpty
      && o3.rewrittenPartitions.isEmpty)
  }

  test("updateWhere rewrites matching partitions in place and migrates partition-moving rows") {
    val base = Files.createTempDirectory("graft_snaplog_upd").toString + "/tbl"
    def dayOf(id: Long): String =
      mkChanges((id, 0, "x", 0.0)).select("day").first().getString(0)
    // day A: users 1 (10.0), 5 (99.0); day B: user 2 (25.0); day C: user 3 (5.0)
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 5, "a", 99.0), (1441, 2, "a", 25.0),
        (2881, 3, "a", 5.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (dayA, dayB, dayC) = (dayOf(1), dayOf(1441), dayOf(2881))
    val dayNew = dayOf(4321)

    // 1. in-place update: only day A matches; B and C keep exact file lists
    val m1 = SnapshotLog.readManifest(fs, new Path(base)).get
    val o1 = SnapshotLog.updateWhere(spark, base,
      col("value") > 50.0, Map("value" -> (col("value") * 2.0)),
      "day", writeCdf = true).get
    assert(o1.rewrittenPartitions == Seq(dayA) && o1.droppedPartitions.isEmpty)
    val m2 = SnapshotLog.readManifest(fs, new Path(base)).get
    assert((m2.files - dayA) == (m1.files - dayA))
    assert(SnapshotLog.read(spark, base).get
      .filter(col("user_id") === 5).select("value").first().getDouble(0) == 198.0)

    // 2. partition-moving update: ALL of day B moves to a brand-new day;
    //    B vanishes, the new partition appears, A and C untouched
    val o2 = SnapshotLog.updateWhere(spark, base,
      col("day") === dayB,
      Map("day" -> lit(dayNew), "value" -> (col("value") + 1.0)),
      "day", writeCdf = true).get
    assert(o2.droppedPartitions == Seq(dayB))
    assert(o2.rewrittenPartitions == Seq(dayNew))
    val m3 = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(!m3.files.contains(dayB) && m3.files.contains(dayNew))
    assert((m3.files - dayNew) == (m2.files - dayB))
    val moved = SnapshotLog.read(spark, base).get
      .filter(col("user_id") === 2).select("day", "value").first()
    assert(moved.getString(0) == dayNew && moved.getDouble(1) == 26.0)
    // row count conserved: update never creates or destroys rows
    assert(SnapshotLog.read(spark, base).get.count() == 4L)

    // 3. CDF carries both images of every updated row
    val cdf = SnapshotLog.readCdf(spark, base).get
      .select("user_id", "value", "change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(cdf == Set(
      (5L, 99.0, "update_preimage", o1.version),
      (5L, 198.0, "update_postimage", o1.version),
      (2L, 25.0, "update_preimage", o2.version),
      (2L, 26.0, "update_postimage", o2.version)))

    // 4. no matches → no new version; old versions still time-travel
    val o3 = SnapshotLog.updateWhere(spark, base,
      col("value") > 1e9, Map("value" -> lit(0.0)), "day").get
    assert(o3.version == m3.version && o3.rewrittenPartitions.isEmpty)
    assert(SnapshotLog.readVersion(spark, base, m1.version).get
      .filter(col("user_id") === 5).select("value").first().getDouble(0) == 99.0)
  }

  test("cdc batch deletes keys through the log; diffVersions emits the typed feed") {
    val base = Files.createTempDirectory("graft_snaplog_cdc").toString + "/tbl"
    // v1: two days — user 1/2 on day 0, user 3 alone on day 1
    SnapshotLog.upsertBatch(spark, base,
      mkChanges((1, 1, "a", 10.0), (2, 2, "a", 20.0), (1441, 3, "a", 30.0)),
      key = "user_id", orderCol = "ts", partCol = "day", batchId = 1)
    // v2: CDC batch — update user 2, delete user 3 (empties day 1),
    // delete absent user 9 (no-op)
    val cdc = mkChanges((3, 2, "b", 25.0), (1442, 3, "a", 0.0), (4, 9, "x", 0.0))
      .withColumn("op",
        when(col("user_id") === 2L, "U").otherwise("D"))
    SnapshotLog.upsertBatch(spark, base, cdc,
      Seq("user_id"), "ts", "day", batchId = 2, maxRetries = 5,
      statsCols = Nil, clusterBy = Nil, clusterFiles = 16, opCol = Some("op"), writeCdf = false)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(m.files.keySet.size == 1,
      s"day 1 lost its only key and must vanish from the manifest: ${m.files.keySet}")
    val live = SnapshotLog.read(spark, base).get
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(live == Set((1L, 10.0), (2L, 25.0)), s"cdc-through-log wrong: $live")
    // the change-data-feed between the two versions, typed
    val feed = SnapshotLog.diffVersions(spark, base, Seq("user_id"), 1L, 2L).get
      .select("user_id", "value", "change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(feed == Set(
      (2L, 20.0, "update_preimage"),  // the retractable old row
      (2L, 25.0, "update_postimage"), // the new row
      (3L, 30.0, "delete")),          // v1's last values; absent-delete of 9 invisible
      s"diff feed wrong: $feed")
  }

  test("expireVersions bounds history; vacuum then reclaims expired-only files") {
    val base = Files.createTempDirectory("graft_snaplog_exp").toString + "/tbl"
    // three rewrites of the same partition → three versions, three file sets
    (1 to 3).foreach { i =>
      SnapshotLog.upsertBatch(spark, base, mkChanges((1, 1, "a", i * 10.0)),
        key = "user_id", orderCol = "ts", partCol = "day", batchId = i)
    }
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Long = {
      val it = fs.listFiles(new Path(base, "data"), true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = dataFiles()
    val liveBefore = SnapshotLog.read(spark, base).get
      .select("user_id", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // nothing unreferenced yet: every version's files are still pinned
    assert(SnapshotLog.vacuum(spark, base, retentionMs = 0L) == 0L)
    val expired = SnapshotLog.expireVersions(spark, base, keepLast = 1)
    assert(expired == Seq(1L, 2L), s"expected v1/v2 expired, got $expired")
    // retained version still reads; expired versions are gone
    assert(SnapshotLog.readVersion(spark, base, 3).nonEmpty)
    assert(SnapshotLog.readVersion(spark, base, 1).isEmpty)
    val removed = SnapshotLog.vacuum(spark, base, retentionMs = 0L)
    assert(removed >= 2, s"vacuum must reclaim the expired versions' files, removed=$removed")
    assert(dataFiles() < before, "storage must shrink after expiry+vacuum")
    val liveAfter = SnapshotLog.read(spark, base).get
      .select("user_id", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(liveAfter == liveBefore, "the live read must be unchanged by expiry")
  }

  test("streaming upsert through the commit log equals MERGE semantics") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_snaplog_stream").toString + "/tbl"
    val ckpt = Files.createTempDirectory("graft_snaplog_ckpt").toString
    val input = MemoryStream[Event]
    val withDay = input.toDF().withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val q = EventStreams.streamingUpsertLog(
      withDay, base, key = "user_id", orderCol = "ts", checkpointDir = ckpt,
      partCol = "day", statsCols = Seq("value"))
    try {
      input.addData(
        Event(1, t(0), 1L, "a", 10.0),
        Event(2, t(0), 2L, "a", 20.0),
        Event(3, t(5), 2L, "b", 25.0)) // latest-in-batch wins for user 2
      q.processAllAvailable()
      input.addData(Event(4, t(10), 2L, "c", 29.0), Event(5, t(10), 4L, "a", 40.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = SnapshotLog.read(spark, base).get
      .select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1L, "a", 10.0), (2L, "c", 29.0), (4L, "a", 40.0)),
      s"commit-log streaming merge wrong: $got")
    // statsCols flowed through: every live file carries value bounds
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLog.readManifest(fs, new Path(base)).get
    assert(m.allFiles.forall(f => m.stats.get(f).exists(_.contains("value"))),
      s"streaming batches must record bounds: ${m.stats}")
  }

  test("a manifest without a schema header is refused on every read path") {
    val base = Files.createTempDirectory("graft_headerless").toString + "/tbl"
    val bp = new Path(base)
    val hfs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // real data files under a hand-written root in the header-less
    // grammar: bare `partition\tfile` lines — no #schema, no #ts, no
    // #op, no __bytes — committed (it ends in the footer)
    (1L to 120L).map(i => (i, i * 2.0, s"p${i % 2}"))
      .toDF("id", "value", "part")
      .withColumn("__p", col("part")).repartition(2)
      .write.partitionBy("__p").parquet(s"$base/data/b1v1-old")
    val staged = hfs.listStatus(new Path(bp, "data/b1v1-old"))
      .filter(_.getPath.getName.startsWith("__p=")).flatMap { d =>
        val p = d.getPath.getName.stripPrefix("__p=")
        hfs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          .map(st => p -> s"data/b1v1-old/${d.getPath.getName}/${st.getPath.getName}")
      }.toSeq
    assert(staged.size >= 2)
    val text = staged.sortBy(_._2).map { case (p, f) => s"$p\t$f" }
      .mkString("", "\n", "\n") + "#eof\n"
    val out = hfs.create(new Path(bp, "_log/v00000000001.txt"), false)
    out.write(text.getBytes("UTF-8")); out.close()

    def refused(what: String)(body: => Any): Unit = {
      val e = intercept[SnapshotLog.ProtocolException](body)
      assert(e.getMessage.contains("v1 has no"), s"$what: ${e.getMessage}")
    }
    refused("readManifest")(SnapshotLog.readManifest(hfs, bp))
    refused("read")(SnapshotLog.read(spark, base))
    refused("applyWithIndex")(SnapshotRelation.applyWithIndex(spark, base))
    refused("history")(SnapshotLog.history(spark, base).collect())
  }

  test("every committing entry point records #schema, #ts, #op and per-file __bytes") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.rootcount.impl", classOf[RootOpenCountingFs].getName)
    val root = Files.createTempDirectory("graft_writer_inv").toString
    val base = s"$root/tbl"
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the same table through the counting scheme, which can lose publishes
    val cbase = s"rootcount://$base"
    def rows(ids: Range) = ids.map(i => (i.toLong, i * 1.5, s"d${i % 3}"))
      .toDF("id", "value", "day")
    var last = 0L
    // after each commit: a NEW version whose root carries the three
    // header tags and whose every live file carries its byte length
    def committed(what: String, at: String = base): Unit = {
      val p = new Path(at)
      val v = SnapshotLog.currentVersion(fs, p)
      if (at == base) { assert(v > last, s"$what committed nothing"); last = v }
      val in = fs.open(new Path(p, f"_log/v$v%011d.txt"))
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val tags = text.split("\n").map(_.takeWhile(_ != '\t')).toSet
      Seq("#schema", "#ts", "#op").foreach(t =>
        assert(tags(t), s"$what: v$v root lacks $t"))
      val m = SnapshotLog.readManifestAt(fs, p, v).get
      val sizeless = m.allFiles.filterNot(f =>
        m.stats.get(f).exists(_.contains(SnapshotLog.ByteSizeKey)))
      assert(sizeless.isEmpty, s"$what: v$v files lack __bytes: $sizeless")
    }
    // a retrying entry point, called through the counting scheme with
    // `maxRetries = n`: n lost races exhaust it (it throws and publishes
    // nothing); one lost race is retried into exactly one new version
    def lostRaces = SnapshotLog.commitAttempts.get() - SnapshotLog.commitWins.get()
    def retried(op: String, what: String, n: Int = 2)(call: Int => Any): Unit = {
      RootOpenCountingFs.losePublishes(n)
      val e = intercept[IllegalStateException](call(n))
      assert(e.getMessage == s"$op lost $n commit races on ${new Path(cbase)}",
        s"$what: ${e.getMessage}")
      assert(RootOpenCountingFs.losses.get == 0, s"$what: made fewer than $n attempts")
      assert(SnapshotLog.currentVersion(fs, bp) == last,
        s"$what published a version after losing every race")
      val lost0 = lostRaces
      RootOpenCountingFs.losePublishes(1)
      call(5)
      assert(RootOpenCountingFs.losses.get == 0, s"$what never published")
      assert(lostRaces - lost0 == 1, s"$what: one lost race, one retry")
      assert(SnapshotLog.currentVersion(fs, bp) == last + 1,
        s"$what must commit exactly version ${last + 1}")
      committed(what)
    }

    retried("APPEND", "append")(n => SnapshotLog.appendBatch(
      spark, cbase, rows(1 to 30), "day", batchId = 1, maxRetries = n))
    retried("OVERWRITE", "overwrite")(n => SnapshotLog.appendBatch(
      spark, cbase, rows(1 to 60), "day", batchId = 2, overwrite = true,
      maxRetries = n))
    // the 7-argument form retries its default 5 times
    retried("UPSERT", "upsert (single key)", n = 5)(_ => SnapshotLog.upsertBatch(
      spark, cbase, rows(50 to 70), "id", "value", "day", batchId = 3))
    retried("UPSERT", "upsert (keys)")(n => SnapshotLog.upsertBatch(spark, cbase,
      rows(65 to 80), Seq("id"), "value", "day", batchId = 4, maxRetries = n))
    retried("UPSERT", "upsert (CDC)")(n => SnapshotLog.upsertBatch(spark, cbase,
      rows(1 to 10).withColumn("op", when(col("id") % 2 === 0, "D").otherwise("U")),
      Seq("id"), "value", "day", batchId = 5, maxRetries = n, opCol = Some("op")))
    retried("DELETE", "delete (rewrite)")(n => SnapshotLog.deleteWhere(
      spark, cbase, col("id") === 11L, "day", maxRetries = n))
    retried("DELETE", "delete (deletion vectors)")(n => SnapshotLog.deleteWhere(
      spark, cbase, col("id") === 12L, "day", maxRetries = n, deletionVectors = true))
    retried("APPEND", "append (one more partition)")(n => SnapshotLog.appendBatch(
      spark, cbase, Seq((500L, 1.0, "dx")).toDF("id", "value", "day"), "day",
      batchId = 9, maxRetries = n))
    retried("DELETE", "delete (partitions)")(n => SnapshotLog.deleteWhere(
      spark, cbase, col("day") === "dx", "day", maxRetries = n))
    retried("OPTIMIZE", "optimize")(n =>
      assert(SnapshotLog.optimizeTable(spark, cbase, "day", maxRetries = n) > 0L))
    retried("STATS", "compute stats")(n =>
      assert(SnapshotLog.computeStats(spark, cbase, Seq("value"), maxRetries = n) > 0L))
    retried("SET TBLPROPERTIES", "set properties")(n => SnapshotLog.setProperties(
      spark, cbase, Map("owner" -> "ops"), maxRetries = n))
    retried("ADD COLUMNS", "add column")(n => SnapshotLog.addColumns(
      spark, cbase, new StructType().add("note", StringType), maxRetries = n))
    retried("RENAME COLUMN", "rename column")(n => SnapshotLog.renameColumn(
      spark, cbase, "note", "memo", Some("day"), maxRetries = n))
    retried("DROP COLUMN", "drop column")(n => SnapshotLog.dropColumn(
      spark, cbase, "memo", Some("day"), maxRetries = n))
    retried("RESTORE", "restore")(n =>
      SnapshotLog.restoreTable(spark, cbase, 2L, maxRetries = n))
    SnapshotLog.cloneTable(spark, base, s"$root/shallow")
    committed("shallow clone", s"$root/shallow")
    SnapshotLog.deepCloneTable(spark, base, s"$root/deep")
    committed("deep clone", s"$root/deep")
    rows(1 to 20).write.parquet(s"$root/plain")
    SnapshotLog.convertInPlace(spark, s"$root/plain", SnapshotLog.NoPartCol)
    committed("convert", s"$root/plain")
    graft.GraftSessions.withExtensions(spark).sql(s"""
      CREATE TABLE wi.t (id BIGINT, value DOUBLE, day STRING)
      USING graft_snapshot PARTITIONED BY (day) LOCATION '$root/sql'
    """)
    committed("SQL CREATE", s"$root/sql")

    retried("REPLACE WHERE", "replace where")(n => SnapshotLog.replaceWhere(
      spark, cbase, rows(3 to 9 by 3), col("day") === "d0", "day", maxRetries = n))
    retried("UPDATE", "update")(n => SnapshotLog.updateWhere(spark, cbase,
      col("id") === 4L, Map("value" -> lit(0.0)), "day", maxRetries = n))
    retried("APPEND", "append (fragments d1)")(n => SnapshotLog.appendBatch(
      spark, cbase, rows(61 to 70), "day", batchId = 6, maxRetries = n))
    retried("OPTIMIZE", "optimize (partition subset)")(n =>
      assert(SnapshotLog.optimizeTable(spark, cbase, "day", maxRetries = n,
        parts = Some(Seq("d1"))) > 0L))
    retried("BLOOMS", "build blooms")(n => assert(
      SnapshotLog.buildBlooms(spark, cbase, Seq("id"), maxRetries = n) > 0L))
    retried("ADD CONSTRAINT", "add constraint")(n => SnapshotLog.addConstraint(
      spark, cbase, "pos", "id > 0", maxRetries = n))
    retried("DROP CONSTRAINT", "drop constraint")(n => SnapshotLog.dropConstraint(
      spark, cbase, "pos", maxRetries = n))
    retried("SET TBLPROPERTIES", "declare layout")(n => SnapshotLog.setProperties(
      spark, cbase, Map(SnapshotLog.PartColProp -> "day", "owner" -> "ops"),
      maxRetries = n))
    retried("REPARTITION", "repartition")(n =>
      SnapshotLog.repartitionTable(spark, cbase, "value", maxRetries = n))
    retried("REPARTITION", "repartition back")(n =>
      SnapshotLog.repartitionTable(spark, cbase, "day", maxRetries = n))
    retried("UNSET TBLPROPERTIES", "unset properties")(n =>
      SnapshotLog.unsetProperties(spark, cbase, Seq("owner"), maxRetries = n))
    retried("ADD COLUMNS", "add int column")(n => SnapshotLog.addColumns(
      spark, cbase, new StructType().add("n", IntegerType), maxRetries = n))
    retried("ALTER COLUMN TYPE", "widen column")(n => SnapshotLog.widenColumnType(
      spark, cbase, "n", LongType, Some("day"), maxRetries = n))
    retried("ADD COLUMNS", "add struct column")(n => SnapshotLog.addColumns(
      spark, cbase, new StructType().add("meta", new StructType().add("a", StringType)),
      maxRetries = n))
    retried("ADD COLUMNS", "add nested column")(n => SnapshotLog.addNestedColumn(
      spark, cbase, Seq("meta", "b"), StructField("b", IntegerType), maxRetries = n))
    retried("nested RENAME COLUMN", "rename nested column")(n =>
      SnapshotLog.renameNestedColumn(spark, cbase, Seq("meta", "b"), "c", maxRetries = n))
    retried("nested DROP COLUMN", "drop nested column")(n =>
      SnapshotLog.dropNestedColumn(spark, cbase, Seq("meta", "c"), maxRetries = n))
    // an out-of-band deletion for FSCK to repair
    val victim = SnapshotLog.readManifest(fs, bp).get.files("d2").head
    assert(fs.delete(new Path(bp, victim), false))
    retried("FSCK", "fsck repair")(n =>
      assert(SnapshotLog.fsckRepair(spark, cbase, maxRetries = n) == Seq(victim)))
    retried("TRUNCATE", "truncate")(n =>
      SnapshotLog.truncateTable(spark, cbase, maxRetries = n))
    // identity is declared on an empty table; BY DEFAULT explicit ids
    // leave the mark behind until SYNC IDENTITY catches it up
    retried("SET TBLPROPERTIES", "declare identity")(n => SnapshotLog.setProperties(
      spark, cbase, Map(SnapshotLog.IdentityPrefix + "id" -> "1:1:bydefault"),
      maxRetries = n))
    retried("APPEND", "append (explicit ids)")(n => SnapshotLog.appendBatch(
      spark, cbase, rows(100 to 105), "day", batchId = 7, maxRetries = n))
    retried("SYNC IDENTITY", "sync identity")(n =>
      assert(SnapshotLog.syncIdentity(spark, cbase, maxRetries = n) > 0L))

    // a batch whose column type the table cannot read is refused
    // before it could leave a manifest without one schema
    val e = intercept[IllegalArgumentException](SnapshotLog.appendBatch(
      spark, base, rows(90 to 91).withColumn("value", col("value").cast("string")),
      "day", batchId = 8))
    assert(e.getMessage.contains("value"), e.getMessage)
    assert(SnapshotLog.currentVersion(fs, bp) == last)
  }

  test("each reader opens every commit-log root once; a commit attempt opens its base once") {
    import RootOpenCountingFs.counted
    spark.sparkContext.hadoopConfiguration
      .set("fs.rootcount.impl", classOf[RootOpenCountingFs].getName)
    val local = Files.createTempDirectory("graft_root_reads").toString + "/tbl"
    def rows(ids: Range) = ids.map(i => (i.toLong, i * 1.5, s"d${i % 3}"))
      .toDF("id", "value", "day")
    (1 to 4).foreach(b => SnapshotLog.appendBatch(spark, local,
      rows(b * 10 until b * 10 + 10), "day", batchId = b))
    // the same inline table, read through the counting scheme
    val base = s"rootcount://$local"
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[RootOpenCountingFs])
    def root(v: Int) = f"v$v%011d.txt"
    val everyOnce = (1 to 4).map(root(_) -> 1).toMap

    assert(counted(assert(SnapshotLog.history(spark, base).count() == 4))
      == everyOnce, "history")
    assert(counted(assert(SnapshotLog.versionAsOfTime(spark, base,
      Long.MaxValue).contains(4L))) == everyOnce, "versionAsOfTime")
    assert(counted(assert(SnapshotLog.partitionSummary(fs, bp).size == 3))
      == Map(root(4) -> 1), "partitionSummary")

    // one commit attempt reads its base root once: tryCommit alone ...
    val m = SnapshotLog.readManifest(fs, bp).get
    assert(counted(assert(SnapshotLog.tryCommit(fs, bp,
      m.copy(version = 5L, op = Some("SET PROPERTIES"))))) == Map(root(4) -> 1),
      "tryCommit")
    // ... and a retrying writer's single attempt reads it twice: once
    // for the loop (the writer's own up-front read is reused as the
    // first attempt's base) and once in tryCommit's gate
    def oneAttempt(what: String)(body: => Any): Unit = {
      val v = SnapshotLog.currentVersion(fs, bp)
      assert(counted(body) == Map(root(v.toInt) -> 2), what)
      assert(SnapshotLog.currentVersion(fs, bp) == v + 1, s"$what committed nothing")
    }
    oneAttempt("appendBatch")(SnapshotLog.appendBatch(spark, base,
      rows(50 until 60), "day", batchId = 6))
    assert(SnapshotLog.read(spark, local).get.count() == 50)
    oneAttempt("upsertBatch")(SnapshotLog.upsertBatch(spark, base,
      rows(15 until 25), Seq("id"), "value", "day", batchId = 7))
    oneAttempt("deleteWhere (rows)")(SnapshotLog.deleteWhere(spark, base,
      col("id") === 30L, "day"))
    oneAttempt("deleteWhere (deletion vectors)")(SnapshotLog.deleteWhere(spark, base,
      col("id") === 31L, "day", deletionVectors = true))
    // d0 held the 15 remaining multiples of 3 in 10..59; three replace them
    oneAttempt("replaceWhere")(SnapshotLog.replaceWhere(spark, base,
      rows(33 to 39 by 3), col("day") === "d0", "day"))
    oneAttempt("updateWhere")(SnapshotLog.updateWhere(spark, base,
      col("id") === 40L, Map("value" -> lit(0.0)), "day"))
    assert(SnapshotLog.read(spark, local).get.count() == 36)
  }
}
