package graft.core

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}

import graft.SparkSpec

/** `Tables` resolves a table's schema once per file version and reads
  * with it: the same schema Spark infers, both `events.ts` vintages on
  * one type, no Spark job on a build, and a rewrite at the same path
  * seen on the next build. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val instants = Seq("2024-01-01 10:00:00", "2024-02-29 23:59:59.123456", "1999-12-31 00:00:01")

  /** An `events.parquet` directory whose `ts` column has type `as`. */
  private def writeEvents(as: String): String = {
    val dir = tempDir("graft_tables_events")
    instants.zipWithIndex.toDF("ts", "id")
      .select(col("id"), col("ts").cast(as).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("each corpus table resolves to the schema Spark infers") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach { n =>
      val inferred = spark.read.parquet(s"$sfDir/$n.parquet").schema
      val loaded = Tables.raw(spark, sfDir, n).schema
      if (n == "events") {
        assert(loaded.filterNot(_.name == "ts") == inferred.filterNot(_.name == "ts"), n)
        assert(loaded("ts").dataType == TimestampType)
      } else assert(loaded == inferred, n)
    }
  }

  test("events.ts as TIMESTAMP_NTZ and as TimestampType both load as TimestampType, equal values") {
    val ntz = writeEvents("timestamp_ntz")
    val tz = writeEvents("timestamp")
    assert(spark.read.parquet(s"$ntz/events.parquet").schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(s"$tz/events.parquet").schema("ts").dataType == TimestampType)
    def load(dir: String) = {
      val df = Tables.raw(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType, dir)
      df.orderBy("id").select("ts").as[Timestamp].collect().toSeq
    }
    val fromNtz = load(ntz)
    assert(fromNtz == load(tz))
    assert(fromNtz == instants.map(Timestamp.valueOf))
  }

  test("events.ts of a surprise type fails at load") {
    val dir = writeEvents("string")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType == StringType)
    val e = intercept[RuntimeException](Tables.raw(spark, dir, "events"))
    assert(e.getMessage.contains("unexpected events.ts parquet type: StringType"), e.getMessage)
  }

  test("building a table runs no Spark job, first build or second") {
    val dir = tempDir("graft_tables_jobs")
    spark.range(1000).toDF("o_orderkey").write.parquet(s"$dir/orders.parquet")
    val (first, firstJobs) = SparkJobs.during(spark)(Tables(spark, dir, "orders"))
    val (second, secondJobs) = SparkJobs.during(spark)(Tables(spark, dir, "orders"))
    assert(firstJobs == 0 && secondJobs == 0, s"first build $firstJobs jobs, second $secondJobs")
    assert(first.count() == 1000 && second.count() == 1000)
  }

  test("a table rewritten at the same path is seen on the next build") {
    val dir = tempDir("graft_tables_rewrite")
    val path = s"$dir/orders.parquet"
    spark.range(10).toDF("a").coalesce(1).write.parquet(path)
    assert(Tables(spark, dir, "orders").columns.toSeq == Seq("a"))
    assert(Tables.scanParts(spark, dir, "orders") == 1)

    spark.range(10).select(col("id").as("b"), col("id").cast("string").as("c"))
      .repartition(3).write.mode("overwrite").parquet(path)
    val rewritten = Tables(spark, dir, "orders")
    assert(rewritten.columns.toSeq == Seq("b", "c"))
    assert(rewritten.select("b").as[Long].collect().sorted.toSeq == (0L until 10L))
    val parts = spark.read.parquet(path).rdd.getNumPartitions
    assert(parts == 3)
    assert(Tables.scanParts(spark, dir, "orders") == parts)
  }
}
