package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{SnapshotLog, SnapshotRelation}

/** [[MetadataAggRewrite]]: a global COUNT(*) (and MIN/MAX of the
  * exposed partition column) over a graft relation folds to a
  * LocalRelation from the manifest — zero data files read. Every
  * unproven case must keep the normal plan and the exact answer. */
class MetadataAggSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ext: SparkSession = graft.GraftSessions.withExtensions(spark)

  /** rows with counts recorded (the statsCols write path). */
  private def mkCounted(): String = {
    val base = Files.createTempDirectory("graft_magg").toString + "/tbl"
    val df = (0 until 500)
      .map(i => (i.toLong, (i % 7).toString, i * 2.0)).toDF("id", "p", "v")
    SnapshotLog.upsertBatch(spark, base, df, Seq("id"), "id", "p",
      batchId = 1, maxRetries = 5, statsCols = Seq("v", "id"),
      clusterBy = Nil,
      clusterFiles = 4, opCol = None, writeCdf = false)
    base
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] =
    p.collect {
      case s: FileSourceScanExec => Seq(s)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
    }.flatten

  private def assertMetadataOnly(df: DataFrame): Unit = {
    df.collect()
    assert(scans(df.queryExecution.executedPlan).isEmpty,
      s"expected a metadata-only plan, got:\n" +
        df.queryExecution.executedPlan.treeString)
  }

  private def assertScans(df: DataFrame): Unit = {
    df.collect()
    assert(scans(df.queryExecution.executedPlan).nonEmpty,
      "expected a normal scanning plan")
  }

  test("COUNT(*) and MIN/MAX(partition) fold to the manifest") {
    val base = mkCounted()
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.agg(count(lit(1)).as("n"), min("p").as("lo"), max("p").as("hi"))
    val row = q.collect().head
    assert(row.getLong(0) == 500 && row.getString(1) == "0" &&
      row.getString(2) == "6")
    assertMetadataOnly(q)
    // Dataset.count() takes the same fold
    val c = rel.groupBy().count()
    assert(c.collect().head.getLong(0) == 500)
    assertMetadataOnly(c)
  }

  test("a filter keeps the normal plan and the exact answer") {
    val base = mkCounted()
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.filter(col("id") < 100).agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 100)
    assertScans(q)
  }

  test("MIN/MAX of a LONG data column folds from stats bounds") {
    val base = mkCounted()
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.agg(min("id").as("lo"), max("id").as("hi"),
      count(lit(1)).as("n"))
    val row = q.collect().head
    assert(row.getLong(0) == 0L && row.getLong(1) == 499L &&
      row.getLong(2) == 500L)
    assertMetadataOnly(q)
  }

  test("MIN/MAX of a DOUBLE column refuses (format-ambiguous bounds)") {
    val base = mkCounted()
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.agg(min("v").as("lo"))
    assert(q.collect().head.getDouble(0) == 0.0)
    assertScans(q)
  }

  test("MIN/MAX without recorded bounds refuses (footer counts alone)") {
    val base = Files.createTempDirectory("graft_maggb").toString + "/tbl"
    val df = (5 until 105).map(i => (i.toLong, (i % 3).toString))
      .toDF("id", "p")
    SnapshotLog.appendBatch(spark, base, df, "p", batchId = 1)
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.agg(min("id").as("lo"))
    assert(q.collect().head.getLong(0) == 5L)
    assertScans(q)
  }

  test("plain appends record footer counts -> COUNT(*) still folds") {
    val base = Files.createTempDirectory("graft_magga").toString + "/tbl"
    val df = (0 until 200).map(i => (i.toLong, (i % 3).toString))
      .toDF("id", "p")
    SnapshotLog.appendBatch(spark, base, df, "p", batchId = 1)
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 200)
    assertMetadataOnly(q)
  }

  test("no recorded row counts (unpartitioned convert) -> normal plan") {
    // an unpartitioned CONVERT without statsCols adopts files with
    // byte lengths only — countRows is None, the fold must refuse
    val base = Files.createTempDirectory("graft_maggn").toString + "/tbl"
    (0 until 200).map(i => (i.toLong, s"x$i")).toDF("id", "s")
      .write.parquet(base)
    SnapshotLog.convertInPlace(spark, base, SnapshotLog.NoPartCol)
    val rel = SnapshotRelation.read(ext, base).get
    val q = rel.agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 200)
    assertScans(q)
  }

  test("deletion vectors break the shape -> DV-exact scan count") {
    val base = mkCounted()
    SnapshotLog.deleteWhere(spark, base, expr("id % 5 = 0"), "p",
      deletionVectors = true)
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 400)
    assertScans(q)
  }

  test("computed alias shadowing a stats column refuses (wrong-fold guard)") {
    // withColumn("id", id*2) re-uses the NAME of a column with recorded
    // bounds; a name-keyed stats lookup would fold the RAW column's
    // max (499) as if it were the doubled value — the fold must refuse
    // and the scanning plan must answer 998
    val base = mkCounted()
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.withColumn("id", col("id") * 2)
      .agg(max("id").as("hi"), min("id").as("lo"))
    val row = q.collect().head
    assert(row.getLong(0) == 998L && row.getLong(1) == 0L)
    assertScans(q)
    // a PLAIN rename keeps traceable lineage and still folds
    val q2 = rel.withColumnRenamed("id", "ident")
      .agg(max("ident").as("hi"))
    assert(q2.collect().head.getLong(0) == 499L)
    assertMetadataOnly(q2)
  }

  test("COUNT(col) folds from per-file non-null counts; refuses without them") {
    val base = Files.createTempDirectory("graft_maggc").toString + "/tbl"
    // v is NULL on multiples of 10 → COUNT(v) = 450 ≠ COUNT(*) = 500
    val df = (0 until 500).map(i => (i.toLong, (i % 7).toString,
      if (i % 10 == 0) None else Some(i * 2.0))).toDF("id", "p", "v")
    SnapshotLog.upsertBatch(spark, base, df, Seq("id"), "id", "p",
      batchId = 1, maxRetries = 5, statsCols = Seq("v", "id"),
      clusterBy = Nil, clusterFiles = 4, opCol = None, writeCdf = false)
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.agg(count(col("v")).as("nv"), count(col("id")).as("ni"),
      count(lit(1)).as("n"))
    val row = q.collect().head
    assert(row.getLong(0) == 450L && row.getLong(1) == 500L &&
      row.getLong(2) == 500L)
    assertMetadataOnly(q)
    // COUNT(partition col): non-null by construction under typed
    // exposure — folds to COUNT(*)
    val qp = rel.agg(count(col("p")).as("np"))
    assert(qp.collect().head.getLong(0) == 500L)
    assertMetadataOnly(qp)
    // a column with no recorded non-null counts (written pre-extension
    // / without statsCols) refuses: append a batch with NO statsCols
    SnapshotLog.appendBatch(spark, base,
      Seq((9999L, "1", 5.0)).toDF("id", "p", "v"), "p", batchId = 2)
    val rel2 = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q2 = rel2.agg(count(col("v")).as("nv"))
    assert(q2.collect().head.getLong(0) == 451L)
    assertScans(q2)
    // a computed alias under COUNT(col) refuses too (nullity changes)
    val q3 = rel.withColumn("v", lit(null).cast("double"))
      .agg(count(col("v")).as("nv"))
    assert(q3.collect().head.getLong(0) == 0L)
    assertScans(q3)
  }

  test("COUNT(col) refuses on a DV table (a vector can mask non-null rows)") {
    val base = Files.createTempDirectory("graft_maggd").toString + "/tbl"
    val df = (0 until 300).map(i => (i.toLong, (i % 5).toString,
      if (i % 3 == 0) None else Some(i.toDouble))).toDF("id", "p", "v")
    SnapshotLog.upsertBatch(spark, base, df, Seq("id"), "id", "p",
      batchId = 1, maxRetries = 5, statsCols = Seq("v"),
      clusterBy = Nil, clusterFiles = 4, opCol = None, writeCdf = false)
    SnapshotLog.deleteWhere(spark, base, expr("id % 2 = 0"), "p",
      deletionVectors = true)
    val rel = SnapshotRelation.read(ext, base, partCol = Some("p")).get
    val q = rel.agg(count(col("v")).as("nv"))
    assert(q.collect().head.getLong(0) == 100L,
      "150 odd survivors, of which ids ≡0 mod 3 (odd multiples of 3) are NULL")
    assertScans(q)
  }

  test("time travel folds against the pinned manifest") {
    val base = mkCounted()
    SnapshotLog.upsertBatch(spark,
      base, Seq((9000L, "3", 1.0)).toDF("id", "p", "v"), Seq("id"), "id",
      "p", batchId = 2, maxRetries = 5, statsCols = Seq("v"),
      clusterBy = Nil, clusterFiles = 4, opCol = None, writeCdf = false)
    val v1 = SnapshotRelation.read(ext, base, versionAsOf = Some(1L),
      partCol = Some("p")).get
    val q = v1.agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 500)
    assertMetadataOnly(q)
    val now = SnapshotRelation.read(ext, base, partCol = Some("p")).get
      .agg(count(lit(1)).as("n"))
    assert(now.collect().head.getLong(0) == 501)
  }
}
