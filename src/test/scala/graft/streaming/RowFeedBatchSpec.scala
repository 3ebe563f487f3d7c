package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.LongOffset

import graft.SparkSpec
import graft.sources.{RootOpenCountingFs, SnapshotLog}

/** The row feed's batch read of the commit log: a `getBatch` classifies
  * its commits and reads their appended files from the same decoded
  * roots, so each root the batch covers is opened once. Counted through
  * the `rootcount` file system. */
class RowFeedBatchSpec extends SparkSpec {
  import spark.implicits._

  test("getBatch((3, 5]) opens v3, v4 and v5 once each") {
    import RootOpenCountingFs.counted
    spark.sparkContext.hadoopConfiguration
      .set("fs.rootcount.impl", classOf[RootOpenCountingFs].getName)
    val local = Files.createTempDirectory("graft_rowfeed").toString + "/tbl"
    (1L to 5L).foreach(b => SnapshotLog.appendBatch(spark, local,
      Seq((b, b, "a")).toDF("id", "v", "day"), "day", batchId = b))
    val src = new CommitLogSource(spark, s"rootcount://$local",
      CommitLogStream.tableSchema(spark, local), changeFeed = false)
    assert(src.getOffset.map(_.json.trim.toLong).contains(5L))
    val opens = counted(src.getBatch(Some(LongOffset(3L)), LongOffset(5L)))
    assert(opens == Seq(3L, 4L, 5L).map(v => f"v$v%011d.txt" -> 1).toMap)
  }
}
