package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotLog

/** MULTI-WRITER SCALE SOAK (round-12 verdict item 4): race concurrent
  * `format("graft")` appenders against a deletion-vector deleter and
  * OPTIMIZE on a replicated-corpus table, and record what the
  * optimistic commit protocol actually did — retries, win/loss counts,
  * per-operation latency — plus the only verdict that matters: ZERO
  * lost batches and an exactly-recomputable final row count.
  *
  * Determinism under concurrency: the deleter's predicate only touches
  * the INITIAL load's key range, and every appender batch lands in its
  * own disjoint range — so the expected final state is exact no matter
  * how the scheduler interleaves commits:
  *   final = initial − deleted(initial) + Σ batch rows,
  * and per batch, every one of its keys must be present (a lost or
  * double-applied batch shows up as a per-range count mismatch).
  *
  * Usage: runMain graft.tools.WriterSoak [sfDir] [replicas] [writers]
  *        [batchesPerWriter] [outJson]
  */
object WriterSoak {

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(30)
    val writers = args.lift(2).map(_.toInt).getOrElse(4)
    val batches = args.lift(3).map(_.toInt).getOrElse(5)
    val outJson = args.lift(4).getOrElse("SOAK_WRITERS.json")
    val spark0 = graft.GraftSessions.local()
    val cpus = spark0.sparkContext.defaultParallelism
    // format("graft") reads require the planner-integrated substitution
    val spark = graft.GraftSessions.withExtensions(spark0)

    val base = java.nio.file.Files
      .createTempDirectory("graft_wsoak").toString + "/orders"
    val orders = spark.read.parquet(s"$srcDir/orders.parquet")
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice"), col("o_orderstatus"))
    val perReplica = orders.count()

    // initial load: the corpus replicated with key-consistent offsets
    // (same construction as graft.tools.Soak), all keys < 1e11
    System.err.println(s"[wsoak] loading $replicas× $perReplica rows")
    val initial = (0 until replicas).map(i =>
        orders.select((col("o_orderkey") + lit(i.toLong * 1000000000L))
          .as("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
      .reduce(_ unionByName _)
    val tLoad0 = System.nanoTime()
    initial.write.format("graft").partitionBy("o_orderstatus").save(base)
    val loadSec = (System.nanoTime() - tLoad0) / 1e9
    val initialN = replicas * perReplica

    // appender batches: each gets a DISJOINT key range far above every
    // initial key — tag = writer*batches + batch, range start
    // (100 + tag) * 1e9
    def batchDf(tag: Int): DataFrame =
      orders.select((col("o_orderkey") + lit((100L + tag) * 1000000000L))
        .as("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))

    // the deleter only ever touches INITIAL keys (< 1e11): expected
    // final count stays exact under any interleaving
    val delPred = col("o_orderkey") < 100000000000L &&
      col("o_orderkey") % 7 === 3

    val attempts0 = SnapshotLog.commitAttempts.get()
    val wins0 = SnapshotLog.commitWins.get()
    val latencies = new ConcurrentLinkedQueue[(String, Double)]()
    val failures = new ConcurrentLinkedQueue[String]()

    def timed[T](kind: String)(f: => T): Unit = {
      val t0 = System.nanoTime()
      try { f; latencies.add(kind -> (System.nanoTime() - t0) / 1e9); () }
      catch { case e: Throwable =>
        failures.add(s"$kind: ${e.getClass.getSimpleName} ${e.getMessage}") }
    }

    val tRace0 = System.nanoTime()
    val appenders = (0 until writers).map { w =>
      new Thread(() => {
        (0 until batches).foreach { b =>
          timed("append") {
            batchDf(w * batches + b).write.format("graft")
              .mode("append").save(base)
          }
        }
      }, s"appender-$w")
    }
    val deleter = new Thread(() => {
      (0 until 4).foreach { r =>
        timed("delete_dv") {
          SnapshotLog.deleteWhere(spark, base,
            delPred && col("o_orderkey") % 4 === r, "o_orderstatus",
            deletionVectors = true, maxRetries = 50)
        }
      }
    }, "deleter")
    val optimizer = new Thread(() => {
      (0 until 3).foreach { _ =>
        Thread.sleep(2000)
        timed("optimize") {
          SnapshotLog.optimizeTable(spark, base, "o_orderstatus",
            maxRetries = 50)
        }
      }
    }, "optimizer")

    // writers use the DSv2 surface whose appendBatch retries default to
    // 5 — under 4+2 concurrent committers that can exhaust; raise the
    // process-wide ceiling the same way a real deployment tunes it:
    // rerun failed appends serially after the race (they are the ONLY
    // acceptable failure class; delete/optimize got maxRetries=50)
    (appenders :+ deleter :+ optimizer).foreach(_.start())
    (appenders :+ deleter :+ optimizer).foreach(_.join())
    val raceSec = (System.nanoTime() - tRace0) / 1e9

    // a lost-race append that exhausted retries re-runs serially —
    // batch ranges are disjoint so replay is safe; record how many
    val exhausted = {
      import scala.jdk.CollectionConverters._
      failures.asScala.count(_.startsWith("append"))
    }
    if (exhausted > 0) {
      System.err.println(s"[wsoak] $exhausted append(s) exhausted retries — replaying serially")
      val landedTags = (0 until writers * batches).filter { tag =>
        spark.read.format("graft").load(base)
          .filter(col("o_orderkey") >= (100L + tag) * 1000000000L &&
            col("o_orderkey") < (101L + tag) * 1000000000L)
          .limit(1).count() > 0
      }.toSet
      (0 until writers * batches).filterNot(landedTags).foreach { tag =>
        batchDf(tag).write.format("graft").mode("append").save(base)
      }
    }

    val attempts = SnapshotLog.commitAttempts.get() - attempts0
    val wins = SnapshotLog.commitWins.get() - wins0

    // ---- verification: exact expected state -------------------------
    val t = spark.read.format("graft").load(base)
    val finalN = t.count()
    val deletedExpected = initial.filter(delPred).count()
    val expectedN = initialN - deletedExpected + writers.toLong * batches * perReplica
    // zero lost/doubled batches: every batch range holds exactly
    // perReplica rows
    val perBatch = t.filter(col("o_orderkey") >= 100000000000L)
      .groupBy((col("o_orderkey") / 1000000000L).cast("long").as("tag"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val badBatches = (0 until writers * batches).map(tag =>
      (100L + tag) -> perBatch.getOrElse(100L + tag, 0L))
      .filter(_._2 != perReplica)
    // no deleted row resurrected by OPTIMIZE racing the DV deleter
    val resurrected = t.filter(delPred).count()

    import scala.jdk.CollectionConverters._
    val lat = latencies.asScala.toSeq.groupBy(_._1).map { case (k, vs) =>
      val xs = vs.map(_._2).sorted
      k -> (xs.size, xs.sum / xs.size, xs.head, xs.last)
    }
    def fmt(d: Double) = f"$d%.3f"
    val latJson = lat.map { case (k, (n, mean, mn, mx)) =>
      s""""$k":{"n":$n,"mean_sec":${fmt(mean)},"min_sec":${fmt(mn)},"max_sec":${fmt(mx)}}"""
    }.mkString(",")
    val ok = finalN == expectedN && badBatches.isEmpty && resurrected == 0
    val json =
      s"""{"replicas":$replicas,"writers":$writers,"batches_per_writer":$batches,""" +
        s""""initial_rows":$initialN,"appended_rows":${writers.toLong * batches * perReplica},""" +
        s""""deleted_rows":$deletedExpected,"final_rows":$finalN,"expected_rows":$expectedN,""" +
        s""""lost_or_doubled_batches":${badBatches.size},"resurrected_rows":$resurrected,""" +
        s""""commit_attempts":$attempts,"commit_wins":$wins,"commit_retries":${attempts - wins},""" +
        s""""append_retry_exhaustions":$exhausted,""" +
        s""""load_sec":${fmt(loadSec)},"race_wall_sec":${fmt(raceSec)},""" +
        s""""latency":{$latJson},""" +
        s""""failures":${failures.asScala.toSeq.filterNot(_.startsWith("append"))
            .map(f => "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]")},""" +
        s""""ok":$ok,"src":"$srcDir","cpus":$cpus}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    println(json)
    if (!ok) sys.error(s"WRITER SOAK FAILED: final=$finalN expected=$expectedN " +
      s"badBatches=${badBatches.take(5)} resurrected=$resurrected")
    spark.stop()
  }
}
