package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.Registry
import graft.core.Tables

/** SCALE SOAK (round-12 verdict item 5): measure the headliners' wall
  * time and PLAN SHAPE at 1× and R× the corpus, so the "100 TB design"
  * claims ride on a measured slope instead of an argument.
  *
  * The R× corpus is the real corpus replicated with KEY-CONSISTENT
  * offsets (every `*key`/`*_id` column of replica `i` shifts by the
  * same constant), so joins stay joinable, group counts scale ~R×, and
  * dedup operators see R× duplicate groups — the adversarial case for
  * candidate generation. Plan shape is graded on the two properties
  * that decide whether a plan survives a scale-up: the EXCHANGE COUNT
  * of the final (post-AQE) physical plan must not grow with the data,
  * and no SinglePartition exchange may appear at either size
  * (PlanShapeSoakSpec pins both at test scale; this main records the
  * wall-time curve at bench scale).
  *
  * Usage: runMain graft.tools.Soak [sfDir] [replicas] [outJson]
  * Writes one JSON object: per query {sec_1x, sec_Rx, slope,
  * exchanges_1x, exchanges_Rx, single_partition}.
  */
object Soak {

  /** The queries whose scale behavior the round is graded on: the
    * bench headliners + the widest-exchange dedup paths + ANN probe. */
  val Targets: Seq[String] = Seq(
    "q1_pricing_summary", "q2_top_customers", "q19_region_revenue",
    "q21_hourly_events", "q26_asof_join", "q33_session_agg",
    "d6_ngram_jaccard", "d7_minhash_lsh", "d24_substring_dedup",
    "s2_knn_batch", "s6_embed_neardup", "s8_ivf_query")

  private val KeyCol = "(?i).*(key|_id)$".r.pattern

  /** Replicate every table `replicas`× with key-consistent offsets. */
  def explode(spark: SparkSession, srcDir: String, dstDir: String,
      replicas: Int): Unit =
    Tables.names.foreach { t =>
      val df = Tables(spark, srcDir, t)
      val copies = (0 until replicas).map { i =>
        df.select(df.schema.fields.toSeq.map { f =>
          val c = col(f.name)
          if (i == 0 || !KeyCol.matcher(f.name).matches()) c.as(f.name)
          else f.dataType match {
            // int keys are small (dims): a 1e6 stride never overflows;
            // long keys get a 1e9 stride clear of every real id range
            case IntegerType => (c + lit(i * 1000000)).cast(IntegerType).as(f.name)
            case LongType => (c + lit(i.toLong * 1000000000L)).as(f.name)
            case _ => c.as(f.name)
          }
        }: _*)
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }

  /** Every node that actually RAN: AQE nodes contribute their FINAL
    * plan (never the initial one), query stages their materialized
    * plan, cached relations their build plan (once per relation),
    * subqueries theirs. */
  def planNodes(root: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(s.plan)
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seenCaches.add(i.relation)) Seq(i.relation.cachedPlan) else Nil
        case o => o.children
      }
      p +: (kids ++ p.subqueries).flatMap(walk)
    }
    walk(root)
  }

  /** (seconds, exchange count, has SinglePartition) of one execution.
    * The job runs through the frame's OWN QueryExecution (a noop-sink
    * write would execute a cloned plan and leave this one
    * isFinalPlan=false), so the metrics read the FINAL post-AQE plan
    * that actually ran. Exchanges are counted on the plan TREE —
    * ReusedExchange is a leaf and never re-counts. */
  def run(spark: SparkSession, name: String, dir: String): (Double, Int, Boolean) = {
    val df = Registry.byName(name).build(spark, dir)
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.foreachPartition(_ => ())
    val sec = (System.nanoTime() - t0) / 1e9
    val nodes = planNodes(df.queryExecution.executedPlan)
    val exchanges = nodes.count {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
      case _ => false
    }
    val singlePart = nodes.exists {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        e.outputPartitioning ==
          org.apache.spark.sql.catalyst.plans.physical.SinglePartition
      case _ => false
    }
    (sec, exchanges, singlePart)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(10)
    val outJson = args.lift(2).getOrElse("SOAK.json")
    val spark = graft.GraftSessions.local()
    val cpus = spark.sparkContext.defaultParallelism

    val bigDir = java.nio.file.Files.createTempDirectory("graft_soak").toString
    System.err.println(s"[soak] exploding $srcDir ×$replicas → $bigDir")
    val tExp0 = System.nanoTime()
    explode(spark, srcDir, bigDir, replicas)
    System.err.println(f"[soak] exploded in ${(System.nanoTime() - tExp0) / 1e9}%.1fs")

    val rows = Targets.map { n =>
      // warm once at 1× (session/codegen), then measure each size
      try { run(spark, n, srcDir) } catch { case _: Throwable => () }
      spark.catalog.clearCache()
      val (s1, e1, sp1) = run(spark, n, srcDir)
      spark.catalog.clearCache()
      val (sR, eR, spR) = run(spark, n, bigDir)
      spark.catalog.clearCache()
      val slope = sR / math.max(s1, 1e-9)
      System.err.println(
        f"[soak] $n%-22s 1x=$s1%6.2fs  ${replicas}x=$sR%7.2fs  slope=$slope%5.2f  " +
          f"exch=$e1/$eR  singlePart=$sp1/$spR")
      f""""$n":{"sec_1x":$s1%.4f,"sec_${replicas}x":$sR%.4f,"slope":$slope%.3f,""" +
        s""""exchanges_1x":$e1,"exchanges_${replicas}x":$eR,""" +
        s""""single_partition":${sp1 || spR}}"""
    }
    val json = s"""{"replicas":$replicas,"src":"$srcDir","cpus":$cpus,""" +
      s""""queries":{${rows.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    println(json)
    spark.stop()
  }
}
