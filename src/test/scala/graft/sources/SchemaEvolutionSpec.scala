package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Schema evolution across incremental batches — the property the
  * reference delegates to its Glue crawler's `UPDATE_IN_DATABASE`
  * policy (`infrastructure/main.tf:170-173`): later batches may add
  * columns, and a unified read must surface them with NULLs for the
  * older batches. */
class SchemaEvolutionSpec extends SparkSpec {

  test("mergeSchema unifies batches when a later batch adds a column") {
    val dir = Files.createTempDirectory("graft_evolve").toString
    val events = Tables(spark, sfDir, "events")
      .select("event_id", "user_id", "value")

    events.limit(100).write.mode("overwrite").parquet(s"$dir/batch=1")
    events.limit(50)
      .withColumn("quality_score", col("value") * 2)
      .write.mode("overwrite").parquet(s"$dir/batch=2")

    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet ==
      Set("event_id", "user_id", "value", "quality_score", "batch"))
    assert(merged.count() == 150)
    // old batch surfaces NULL for the new column; new batch carries it
    assert(merged.filter(col("batch") === 1 && col("quality_score").isNotNull).count() == 0)
    assert(merged.filter(col("batch") === 2 && col("quality_score").isNull).count() == 0)
  }

  test("explicit schema read is immune to column additions (stable contract)") {
    val dir = Files.createTempDirectory("graft_evolve2").toString
    val events = Tables(spark, sfDir, "events").select("event_id", "value")
    events.limit(10).write.mode("overwrite").parquet(s"$dir/b1")
    events.limit(10).withColumn("extra", lit(1))
      .write.mode("overwrite").parquet(s"$dir/b2")

    val fixed = spark.read
      .schema("event_id BIGINT, value DOUBLE")
      .parquet(s"$dir/b1", s"$dir/b2")
    assert(fixed.columns.toSeq == Seq("event_id", "value"))
    assert(fixed.count() == 20)
  }

  test("ALTER COLUMN TYPE: metadata-only widening, upcast reads, refusals") {
    import org.apache.spark.sql.types._
    val s = graft.GraftSessions.withExtensions(spark)
    import s.implicits._
    val base = Files.createTempDirectory("graft_widen").toString + "/tbl"
    val rows = (1 to 100).map(i =>
        (i.toLong, i, i.toFloat / 4, BigDecimal(i).setScale(2), "d0"))
      .toDF("id", "v", "f", "dd", "day")
      .select(col("id"), col("v").cast(IntegerType).as("v"),
        col("f").cast(FloatType).as("f"),
        col("dd").cast(DecimalType(5, 2)).as("dd"), col("day"))
    SnapshotLog.upsertBatch(s, base, rows, Seq("id"), "id", "day",
      batchId = 1L, maxRetries = 5, statsCols = Seq("v", "f"),
      clusterBy = Nil, clusterFiles = 2, opCol = None, writeCdf = false)
    val view = Catalog.registerSnapshotLog(s, "widen", "t1", base, Some("day"))
    val bp = new org.apache.hadoop.fs.Path(base)
    val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val v0 = SnapshotLog.readManifest(fs, bp).get.version

    s.sql(s"ALTER TABLE $view ALTER COLUMN v TYPE BIGINT")
    s.sql(s"ALTER TABLE $view ALTER COLUMN f TYPE DOUBLE")
    s.sql(s"ALTER TABLE $view ALTER COLUMN dd TYPE DECIMAL(12,2)")
    val m = SnapshotLog.readManifest(fs, bp).get
    val sc = m.schema.get
    assert(sc("v").dataType == LongType)
    assert(sc("f").dataType == DoubleType)
    assert(sc("dd").dataType == DecimalType(12, 2))
    // old int32/float/decimal(5,2) files upcast on read — values exact
    val t = s.table(view)
    assert(t.schema("v").dataType == LongType)
    assert(t.agg(sum(col("v"))).head.getLong(0) == 5050L)
    assert(t.filter(col("f") === 12.5d).count() == 1) // 50/4 exact in both
    assert(t.agg(max(col("dd"))).head.getDecimal(0)
      == new java.math.BigDecimal("100.00"))
    // stats hygiene: integral bounds kept, float bounds dropped
    val stats = m.files("d0").flatMap(f => m.stats.getOrElse(f, Map.empty).keys)
    assert(stats.contains("v"), "int->long keeps bounds")
    assert(!stats.contains("f"), "float->double must drop stale bounds")
    // the next write lands wide values beyond Int range
    val wide = Seq((1000L, 5000000000L, 1.5d, BigDecimal("9999999999.99"), "d0"))
      .toDF("id", "v", "f", "dd", "day")
      .select(col("id"), col("v"), col("f"),
        col("dd").cast(DecimalType(12, 2)).as("dd"), col("day"))
    SnapshotLog.upsertBatch(s, base, wide, Seq("id"), "id", "day",
      batchId = 2L, maxRetries = 5, statsCols = Nil,
      clusterBy = Nil, clusterFiles = 2, opCol = None, writeCdf = false)
    // API-level write: read back through the log (the registered view
    // pins its snapshot until the next SQL DML/DDL repins it)
    assert(SnapshotLog.read(s, base).get.agg(max(col("v"))).head.getLong(0)
      == 5000000000L)
    // time travel to the pre-widen version answers with the old types
    assert(SnapshotLog.readVersion(s, base, v0).get.schema("v").dataType
      == IntegerType)
    // refusals: narrowing, and the partition column
    val e1 = intercept[Exception](
      s.sql(s"ALTER TABLE $view ALTER COLUMN id TYPE INT"))
    assert(e1.getMessage.contains("widening"), e1.getMessage)
    val e2 = intercept[Exception](
      s.sql(s"ALTER TABLE $view ALTER COLUMN day TYPE VARCHAR(10)"))
    assert(e2.getMessage.contains("widening") ||
      e2.getMessage.contains("partition"), e2.getMessage)
  }

  test("widened columns: upsert, row delete and optimize read old and wide files together") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = Files.createTempDirectory("graft_widen_ops").toString + "/tbl"
    type Rec = (Long, Long, Double, BigDecimal, String)
    def batch(rows: Seq[Rec], wide: Boolean) =
      rows.map(r => (r._1, r._2, r._3, r._4, r._5)).toDF("id", "v", "f", "dd", "day")
        .select(col("id"),
          col("v").cast(if (wide) LongType else IntegerType).as("v"),
          col("f").cast(if (wide) DoubleType else FloatType).as("f"),
          col("dd").cast(if (wide) DecimalType(12, 2) else DecimalType(5, 2)).as("dd"),
          col("day"))
    val days = Seq("d0", "d1", "d2")
    val narrow: Seq[Rec] = days.zipWithIndex.flatMap { case (d, k) =>
      (1 to 10).map { i =>
        val id = k * 100L + i
        (id, id, id / 4.0, BigDecimal(id).setScale(2), d)
      }
    }
    val wide: Seq[Rec] = days.zipWithIndex.flatMap { case (d, k) =>
      Seq((k * 100L + 51, 5000000000L + k, 1.1d + k, BigDecimal("9999999999.99"), d),
        (k * 100L + 52, -5000000000L - k, 2.2d + k, BigDecimal("-1234567890.12"), d))
    }
    var expected: Map[Long, Rec] = Map.empty
    def put(rs: Seq[Rec]): Unit = expected ++= rs.map(r => r._1 -> r)
    def check(step: String): Unit = {
      val got = SnapshotLog.read(spark, base).get
        .select("id", "v", "f", "dd", "day").collect()
        .map(r => r.getLong(0) -> ((r.getLong(0), r.getLong(1), r.getDouble(2),
          BigDecimal(r.getDecimal(3)), r.getString(4))))
        .toMap
      assert(got == expected, s"after $step")
    }
    SnapshotLog.appendBatch(spark, base, batch(narrow, wide = false), "day", 1L)
    put(narrow)
    SnapshotLog.widenColumnType(spark, base, "v", LongType)
    SnapshotLog.widenColumnType(spark, base, "f", DoubleType)
    SnapshotLog.widenColumnType(spark, base, "dd", DecimalType(12, 2))
    // every day now holds an int/float/decimal(5,2) file and a
    // long/double/decimal(12,2) one; each step below rewrites one day
    // while its files are still mixed
    SnapshotLog.appendBatch(spark, base, batch(wide, wide = true), "day", 2L)
    put(wide)
    check("the wide append")

    val change: Seq[Rec] = Seq((101L, 6000000000L, 9.5d, BigDecimal("7654321.00"), "d1"),
      (160L, 8L, 0.5d, BigDecimal("8.00"), "d1"))
    SnapshotLog.upsertBatch(spark, base, batch(change, wide = true), Seq("id"), "id", "day",
      batchId = 3L)
    put(change)
    check("upsert")

    SnapshotLog.deleteWhere(spark, base, col("id") === 202L, "day")
    expected -= 202L
    check("row delete")

    assert(SnapshotLog.optimizeTable(spark, base, "day") > 0L)
    check("optimize")
  }

  test("a change-feed append after RENAME COLUMN feeds its inserts under the new name") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_rename_cdf").toString + "/tbl"
    SnapshotLog.appendBatch(spark, base, Seq((1L, 10L, "d0")).toDF("id", "v", "day"),
      "day", 1L, writeCdf = true)
    SnapshotLog.renameColumn(spark, base, "v", "amount")
    val v = SnapshotLog.appendBatch(spark, base,
      Seq((2L, 20L, "d0")).toDF("id", "amount", "day"), "day", 2L, writeCdf = true)
    val ins = SnapshotLog.readCdf(spark, base).get
      .filter(col("_commit_version") === v)
      .select("id", "amount", "change_type").as[(Long, Long, String)].collect().toSeq
    assert(ins == Seq((2L, 20L, "insert")))
  }
}
