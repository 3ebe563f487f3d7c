package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{
  REBALANCE_PARTITIONS_BY_COL, REBALANCE_PARTITIONS_BY_NONE, REPARTITION_BY_NUM,
  ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSessions, SparkSpec}

/** Bucketed COMMIT-LOG tables (`graft.bucket.count` +
  * `graft.bucket.columns`): every write stages Spark-bucketed files
  * (repartition-by-bucket-columns routing, `_NNNNN` file tags), the
  * manifest carries the spec as versioned properties, and
  * [[SnapshotRelation]] hands it to `HadoopFsRelation` — so a
  * fact⋈fact join of two same-bucketed snapshot tables plans with
  * ZERO shuffle exchanges. The 100 TB escape hatch the broadcast
  * heuristic can't reach, now native to the table format. */
class BucketedSnapshotSpec extends SparkSpec {

  private lazy val s = GraftSessions.withExtensions(spark)

  private object Aqe extends AdaptiveSparkPlanHelper

  private def shuffles(df: DataFrame): Int =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case e: ShuffleExchangeLike => e }.size

  private def mk(db: String, name: String, buckets: Int): (String, String) = {
    val base = Files.createTempDirectory(s"graft_bkt_$name").toString + "/tbl"
    s.sql(s"""
      CREATE TABLE $db.$name (id BIGINT, value DOUBLE, day STRING)
      USING graft_snapshot PARTITIONED BY (day) LOCATION '$base'
    """)
    s.sql(s"ALTER TABLE ${db}_$name SET TBLPROPERTIES " +
      s"('${SnapshotLog.BucketCountProp}' = '$buckets', " +
      s"'${SnapshotLog.BucketColsProp}' = 'id')")
    (base, s"${db}_$name")
  }

  private def files(base: String): Seq[String] = {
    val bp = new Path(base)
    val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
    SnapshotLog.readManifest(fs, bp).get.allFiles
  }

  test("co-bucketed snapshot join: zero shuffles, tagged files, exact rows") {
    import s.implicits._
    val (baseA, va) = mk("bkt", "facta", 4)
    val (baseB, vb) = mk("bkt", "factb", 4)
    (1L to 400L).map(i => (i, i * 1.0, s"d${i % 3}")).toDF("id", "value", "day")
      .createOrReplaceTempView("bkt_src_a")
    (1L to 400L).map(i => (i, i * 2.0, s"d${i % 2}")).toDF("id", "value", "day")
      .createOrReplaceTempView("bkt_src_b")
    s.sql(s"INSERT INTO $va SELECT * FROM bkt_src_a")
    s.sql(s"INSERT INTO $vb SELECT * FROM bkt_src_b")

    // every staged data file carries Spark's _NNNNN bucket tag
    assert(files(baseA).nonEmpty &&
      files(baseA).forall(f => SnapshotLog.bucketIdOf(f).isDefined),
      files(baseA).mkString("\n"))

    val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = s.table(va).select(col("id"), col("value").as("av"))
        .join(s.table(vb).select(col("id"), col("value").as("bv")), "id")
      assert(j.count() == 400)
      assert(shuffles(j) == 0,
        s"co-bucketed snapshot join must be exchange-free:\n" +
          j.queryExecution.executedPlan)
      // rows exact vs the computed expectation
      val got = j.select(sum(col("av") + col("bv"))).head.getDouble(0)
      assert(got == (1L to 400L).map(i => i * 3.0).sum)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("MERGE/upsert and OPTIMIZE preserve the bucketed layout") {
    import s.implicits._
    val (base, v) = mk("bkt", "life", 4)
    (1L to 100L).map(i => (i, i * 1.0, s"d${i % 2}")).toDF("id", "value", "day")
      .createOrReplaceTempView("bkt_life_src")
    s.sql(s"INSERT INTO $v SELECT * FROM bkt_life_src")
    // second write: buckets accumulate a second file each — still all
    // tagged, still a valid bucketed scan
    s.sql(s"INSERT INTO $v VALUES (200, 9.0, 'd0'), (201, 9.5, 'd1')")
    assert(files(base).forall(f => SnapshotLog.bucketIdOf(f).isDefined))

    // DML rewrites keep the layout
    s.sql(s"UPDATE $v SET value = value + 1 WHERE id <= 10")
    s.sql(s"DELETE FROM $v WHERE id = 200")
    assert(files(base).forall(f => SnapshotLog.bucketIdOf(f).isDefined))

    // OPTIMIZE folds to at most one file per (partition, bucket)
    s.sql(s"OPTIMIZE $v")
    val after = files(base)
    assert(after.forall(f => SnapshotLog.bucketIdOf(f).isDefined))
    val bp = new Path(base)
    val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val m = SnapshotLog.readManifest(fs, bp).get
    m.files.foreach { case (p, fls) =>
      val ids = fls.flatMap(SnapshotLog.bucketIdOf)
      assert(ids.distinct.size == fls.size,
        s"partition $p holds two files of one bucket after OPTIMIZE: $fls")
    }
    // a second OPTIMIZE is a no-op (bucketed steady state reached)
    val v1 = m.version
    s.sql(s"OPTIMIZE $v")
    assert(SnapshotLog.readManifest(fs, bp).get.version == v1,
      "OPTIMIZE on an already per-bucket-compact table must not rewrite")

    // contents survived the whole lifecycle
    assert(s.sql(s"SELECT COUNT(*) FROM $v").head.getLong(0) == 101)
    assert(s.sql(s"SELECT value FROM $v WHERE id = 5").head.getDouble(0) == 6.0)
    assert(s.sql(s"SELECT COUNT(*) FROM $v WHERE id = 200").head.getLong(0) == 0)

    // and the bucketed partitioning still holds post-maintenance
    val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (base2, v2) = mk("bkt", "life2", 4)
      s.sql(s"INSERT INTO $v2 SELECT * FROM bkt_life_src")
      val j = s.table(v).select(col("id"))
        .join(s.table(v2).select(col("id"), col("value")), "id")
      assert(j.count() == 100)
      assert(shuffles(j) == 0, j.queryExecution.executedPlan.toString)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("bucketed merge and append stage without a rebalance shuffle") {
    import s.implicits._
    val (base, _) = mk("bkt", "stage", 4)
    // executed (AQE-final) plan of every file write under the table's dir
    val writes = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Aqe.collectFirst(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd }
          .foreach {
            case i: InsertIntoHadoopFsRelationCommand
                if i.outputPath.toString.contains(base) =>
              writes.put(i.outputPath.getName, qe.executedPlan)
            case _ =>
          }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      // staged dirs are data/b<batchId>v<version>-<uuid>
      SnapshotLog.appendBatch(s, base,
        (1L to 200L).map(i => (i, i * 1.0, s"d${i % 3}")).toDF("id", "value", "day"),
        "day", batchId = 1)
      SnapshotLog.upsertBatch(s, base,
        (1L to 40L).map(i => (i, i * 10.0, s"d${i % 3}")).toDF("id", "value", "day"),
        "id", "value", "day", 2L)
      eventually(timeout(Span(30, Seconds))) {
        assert(Seq("b1v", "b2v").forall(b =>
          writes.keySet.asScala.exists(_.startsWith(b))), writes.keySet)
      }
    } finally s.listenerManager.unregister(listener)
    writes.forEach { (dir, plan) =>
      val origins = Aqe.collect(plan) { case e: ShuffleExchangeLike => e.shuffleOrigin }
      // the bucket routing (repartition(n, bucketCols)) is the one shuffle
      assert(origins.contains(REPARTITION_BY_NUM), s"$dir:\n$plan")
      assert(!origins.exists(o =>
        o == REBALANCE_PARTITIONS_BY_COL || o == REBALANCE_PARTITIONS_BY_NONE),
        s"$dir: a bucketed staged write must not rebalance first:\n$plan")
    }
    assert(SnapshotLog.read(s, base).get.count() == 200)
  }

  test("equality probe on the bucket column prunes to one bucket at plan time") {
    import s.implicits._
    val (base, v) = mk("bkt", "prune", 8)
    (1L to 400L).map(i => (i, i * 1.0, s"d${i % 2}")).toDF("id", "value", "day")
      .createOrReplaceTempView("bkt_prune_src")
    s.sql(s"INSERT INTO $v SELECT * FROM bkt_prune_src")
    // DisableUnnecessaryBucketedScan prefers parallelism when no
    // operator consumes the bucket distribution — pin the bucketed
    // scan on to demonstrate the pruning path (at 100 TB the planner
    // keeps it for the joins this table exists for)
    val prior = s.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val probe = s.table(v).filter(col("id") === 123L)
      assert(probe.count() == 1)
      // FileSourceStrategy's bucket pruning is free once the scan has
      // a bucketSpec: the plan reads 1 of 8 buckets
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"point lookup must prune to one bucket:\n$plan")
    } finally s.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", prior)
  }

  test("TBLPROPERTIES at CREATE / CTAS declare bucketing atomically; SHOW CREATE replays") {
    import s.implicits._
    // empty CREATE with the clause: props land in v1, first INSERT tags
    val baseA = Files.createTempDirectory("graft_bkt_tp").toString + "/tbl"
    s.sql(s"""
      CREATE TABLE bkt.tp (id BIGINT, day STRING)
      USING graft_snapshot PARTITIONED BY (day) LOCATION '$baseA'
      TBLPROPERTIES ('${SnapshotLog.BucketCountProp}' = '4',
                     '${SnapshotLog.BucketColsProp}' = 'id')
    """)
    s.sql("INSERT INTO bkt_tp VALUES (1, 'd0'), (2, 'd1')")
    assert(files(baseA).nonEmpty &&
      files(baseA).forall(f => SnapshotLog.bucketIdOf(f).isDefined))

    // CTAS with the clause: the CTAS data itself lands bucketed
    val baseB = Files.createTempDirectory("graft_bkt_tpc").toString + "/tbl"
    (1L to 50L).map(i => (i, s"d${i % 2}")).toDF("id", "day")
      .createOrReplaceTempView("bkt_tpc_src")
    s.sql(s"""
      CREATE TABLE bkt.tpc USING graft_snapshot PARTITIONED BY (day)
      LOCATION '$baseB'
      TBLPROPERTIES ('${SnapshotLog.BucketCountProp}' = '4',
                     '${SnapshotLog.BucketColsProp}' = 'id')
      AS SELECT * FROM bkt_tpc_src
    """)
    assert(files(baseB).nonEmpty &&
      files(baseB).forall(f => SnapshotLog.bucketIdOf(f).isDefined),
      files(baseB).mkString("\n"))
    assert(s.sql("SELECT COUNT(*) FROM bkt_tpc").head.getLong(0) == 50)

    // SHOW CREATE TABLE emits a statement whose TBLPROPERTIES clause
    // replays: run it against a fresh location and check the props
    val ddl = s.sql("SHOW CREATE TABLE bkt_tp").head.getString(0)
    val baseC = Files.createTempDirectory("graft_bkt_replay").toString + "/tbl"
    val replay = ddl.split(";")(0)
      .replace(s"LOCATION '$baseA'", s"LOCATION '$baseC'")
      .replace("CREATE TABLE bkt_tp", "CREATE TABLE bkt.tp2")
    s.sql(replay)
    val bp = new Path(baseC)
    val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val m = SnapshotLog.readManifest(fs, bp).get
    assert(m.bucketSpec.contains((4, Seq("id"))),
      s"replayed DDL must carry the bucket spec: ${m.props}")
  }

  test("guards: late bucketing, ZORDER, and bucket-column DDL all refuse") {
    import s.implicits._
    // declaring a bucket spec on a table that already has data refuses
    val base = Files.createTempDirectory("graft_bkt_guard").toString + "/tbl"
    s.sql(s"""
      CREATE TABLE bkt.guard (id BIGINT, value DOUBLE, day STRING)
      USING graft_snapshot PARTITIONED BY (day) LOCATION '$base'
    """)
    s.sql("INSERT INTO bkt_guard VALUES (1, 1.0, 'd0')")
    val e = intercept[Exception] {
      s.sql(s"ALTER TABLE bkt_guard SET TBLPROPERTIES " +
        s"('${SnapshotLog.BucketCountProp}' = '4', " +
        s"'${SnapshotLog.BucketColsProp}' = 'id')")
    }
    assert(e.getMessage.contains("bucket"), e.getMessage)

    // ZORDER on a bucketed table refuses (two layout owners)
    val (base2, v2) = mk("bkt", "guard2", 4)
    s.sql(s"INSERT INTO $v2 VALUES (1, 1.0, 'd0'), (2, 2.0, 'd0')")
    val ez = intercept[Exception] { s.sql(s"OPTIMIZE $v2 ZORDER BY (value)") }
    assert(ez.getMessage.contains("bucketed"), ez.getMessage)

    // renaming/dropping a bucket column refuses
    val er = intercept[Exception] {
      s.sql(s"ALTER TABLE $v2 RENAME COLUMN id TO ident")
    }
    assert(er.getMessage.contains("bucket"), er.getMessage)
    val ed = intercept[Exception] { s.sql(s"ALTER TABLE $v2 DROP COLUMN id") }
    assert(ed.getMessage.contains("bucket"), ed.getMessage)
  }
}
