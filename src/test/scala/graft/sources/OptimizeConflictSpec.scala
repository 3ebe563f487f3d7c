package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSessions, SparkSpec}

/** CONFLICT-NARROWED whole-table OPTIMIZE (round-14 verdict item #5):
  * the staged rewrite replaces exactly the files it READ, so a lost
  * commit race against a writer that only ADDED files (even into a
  * partition being compacted) retries METADATA-ONLY — no second
  * rewrite job — while a racer that removed/rewrote one of the read
  * files forces a correct restage. The multi-writer soak's OPTIMIZE
  * latency tail (max 139 s in plans/history/SOAK_WRITERS_r14.json) was recompute cost;
  * this narrows it to one rewrite + cheap metadata retries. */
class OptimizeConflictSpec extends SparkSpec {

  private lazy val s = GraftSessions.withExtensions(spark)
  import s.implicits._

  private def manifest(base: String): SnapshotLog.Manifest = {
    val bp = new Path(base)
    SnapshotLog.readManifest(
      bp.getFileSystem(s.sparkContext.hadoopConfiguration), bp).get
  }

  /** 30 rows across p ∈ {d0, d1, d2}, ids offset for distinctness. */
  private def batch(off: Int): DataFrame =
    (0 until 30).map(i => ((i + off).toLong, s"d${i % 3}", i.toLong))
      .toDF("id", "p", "v")

  /** Staging dirs OPTIMIZE created (named `o<ver>-a<attempt>-<tok>`). */
  private def optimizeStagingDirs(base: String): Seq[String] =
    Option(new java.io.File(base + "/data").listFiles())
      .map(_.toSeq.map(_.getName).filter(_.startsWith("o"))).getOrElse(Nil)

  test("a racing APPEND costs OPTIMIZE a metadata-only retry, not a second rewrite") {
    val base = Files.createTempDirectory("graft_oc1").toString + "/t"
    SnapshotLog.appendBatch(s, base, batch(0), "p", 1L)
    SnapshotLog.appendBatch(s, base, batch(100), "p", 2L)
    @volatile var fired = false
    SnapshotLog.onBeforeOptimizeCommit = () => {
      if (!fired) {
        fired = true
        // the racer APPENDS into d0 — a partition OPTIMIZE is folding
        SnapshotLog.appendBatch(s, base,
          Seq((999L, "d0", 999L)).toDF("id", "p", "v"), "p", 3L)
      }
    }
    try {
      assert(SnapshotLog.optimizeTable(s, base, "p") > 0)
    } finally SnapshotLog.onBeforeOptimizeCommit = () => ()
    assert(fired, "the race must actually have been injected")
    // the retry was metadata-only: exactly ONE staging attempt exists
    val dirs = optimizeStagingDirs(base)
    assert(dirs.size == 1 && dirs.head.contains("-a0-"),
      s"a racing append must not trigger a second rewrite, staged: $dirs")
    // disjoint-file rule: the racer's file survives BESIDE the
    // compacted one; nothing lost, nothing doubled
    val m = manifest(base)
    assert(m.files("d0").size == 2,
      s"d0 = 1 compacted + 1 racer file, got ${m.files("d0")}")
    assert(m.files("d1").size == 1 && m.files("d2").size == 1)
    val df = SnapshotLog.read(s, base).get
    assert(df.count() == 61)
    assert(df.filter(col("id") === 999L).count() == 1)
    assert(df.select("id").distinct().count() == 61)
  }

  test("a racer that rewrites a read file forces a restage, never a stale commit") {
    val base = Files.createTempDirectory("graft_oc2").toString + "/t"
    SnapshotLog.appendBatch(s, base, batch(0), "p", 1L)
    SnapshotLog.appendBatch(s, base, batch(100), "p", 2L)
    @volatile var fired = false
    SnapshotLog.onBeforeOptimizeCommit = () => {
      if (!fired) {
        fired = true
        // the racer REWRITES d1 (row delete replaces its files) — the
        // staged fold read those files, so reusing it would resurrect
        // the deleted row
        SnapshotLog.deleteWhere(s, base, col("id") === 1L, "p").get
      }
    }
    try {
      assert(SnapshotLog.optimizeTable(s, base, "p") > 0)
    } finally SnapshotLog.onBeforeOptimizeCommit = () => ()
    // the staged output was invalidated → a second attempt staged
    val dirs = optimizeStagingDirs(base)
    assert(dirs.exists(_.contains("-a1-")),
      s"an invalidating race must restage, staged: $dirs")
    val df = SnapshotLog.read(s, base).get
    assert(df.count() == 59, "the racer's delete must survive the optimize")
    assert(df.filter(col("id") === 1L).count() == 0,
      "a stale staged fold would have resurrected the deleted row")
  }

  test("a racing APPEND costs a partition-subset OPTIMIZE a metadata-only retry") {
    val base = Files.createTempDirectory("graft_oc3").toString + "/t"
    SnapshotLog.appendBatch(s, base, batch(0), "p", 1L)
    SnapshotLog.appendBatch(s, base, batch(100), "p", 2L)
    val m0 = manifest(base)
    @volatile var fired = false
    SnapshotLog.onBeforeOptimizeCommit = () => {
      if (!fired) {
        fired = true
        // the racer APPENDS into d1 — the one partition OPTIMIZE folds
        SnapshotLog.appendBatch(s, base,
          Seq((999L, "d1", 999L)).toDF("id", "p", "v"), "p", 3L)
      }
    }
    try {
      assert(SnapshotLog.optimizeTable(s, base, "p", parts = Some(Seq("d1"))) > 0)
    } finally SnapshotLog.onBeforeOptimizeCommit = () => ()
    assert(fired, "the race must actually have been injected")
    val dirs = optimizeStagingDirs(base)
    assert(dirs.size == 1 && dirs.head.contains("-a0-"),
      s"a racing append must not trigger a second rewrite, staged: $dirs")
    // d1 = 1 compacted + 1 racer file; the unselected partitions keep
    // their files
    val m = manifest(base)
    assert(m.files("d1").size == 2,
      s"d1 = 1 compacted + 1 racer file, got ${m.files("d1")}")
    assert(m.files("d0") == m0.files("d0") && m.files("d2") == m0.files("d2"))
    val df = SnapshotLog.read(s, base).get
    assert(df.count() == 61)
    assert(df.filter(col("id") === 999L).count() == 1)
    assert(df.select("id").distinct().count() == 61)
  }
}
