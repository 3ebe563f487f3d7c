package perfbench

import java.nio.file.Paths

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Q, Registry}

/** The analyst read path: the ten headline queries over the generated
  * corpus, one client, each query built, planned and run through a noop
  * sink. Every pass visits the queries in a seeded shuffled order, and
  * the session's cache is cleared before each query so each one does its
  * full work. One warm-up pass, which writes each result as parquet for
  * the oracle check, precedes at least two timed passes. The JIT is still
  * compiling through the timed passes, so one pass varies with its
  * progress; over ten seeds the per-query median of passes 2 and 3 spread
  * 0.058 of its median, pass 3 alone 0.102, at the same run length as two
  * warm-up passes and one timed pass. */
final class QueryMix(corpus: String, work: String, seed: Long) extends Workload {
  private val queries: Seq[Q] = Registry.all.filter(_.headline).sortBy(_.name)
  private var lastPlan: Map[String, Double] = Map.empty
  private var planTotals: Map[String, Double] = Map.empty

  private val checkDir = Paths.get(work, "query-check")
  private var written: Map[String, Boolean] = Map.empty

  def prepare(spark: SparkSession): Unit = ()

  override def minIterations: Int = 2

  def iteration(ctx: Ctx): Unit = {
    val order = new Random(seed * 1000003L + ctx.iter).shuffle(queries)
    order.foreach { q =>
      ctx.spark.catalog.clearCache()
      lastPlan = Map.empty
      val req = s"${ctx.tag}/${q.name}"
      ctx.op("query", q.name, "query") {
        val df = ctx.trace.span("queries.build", req)(q.build(ctx.spark, corpus))
        ctx.trace.span("plans.plan", req)(df.queryExecution.executedPlan)
        ctx.trace.span("exec.run", req) {
          if (ctx.tag == "s0") written += q.name -> write(df, q)
          else df.write.mode("overwrite").format("noop").save()
        }
      }
      if (ctx.trace.enabled && ctx.iter >= 0) {
        // the plan listener runs on the listener bus; wait for it so this
        // query's final plan is the one counted
        org.apache.spark.ListenerBusDrain(ctx.spark.sparkContext)
        planTotals = (planTotals.keySet ++ lastPlan.keySet).map(k =>
          k -> (planTotals.getOrElse(k, 0.0) + lastPlan.getOrElse(k, 0.0))).toMap
      }
    }
  }

  override def onQueryExecution(stats: Map[String, Double]): Unit = lastPlan = stats

  override def figures: Map[String, Any] = Map("plan_totals" -> planTotals)

  private def write(df: org.apache.spark.sql.DataFrame, q: Q): Boolean =
    try { df.write.mode("overwrite").parquet(checkDir.resolve(q.name).toString); true }
    catch { case e: Exception => System.err.println(s"[query-mix] ${q.name}: $e"); false }

  /** Where each result was written, with its oracle SQL. */
  def check(spark: SparkSession): Map[String, Any] =
    Map("results" -> queries.map(q => q.name -> Map(
      "dir" -> checkDir.resolve(q.name).toString, "ok" -> written.getOrElse(q.name, false),
      "oracle" -> q.oracle)).toMap)
}

/** Counts of the final (post-AQE) plan of every noop write (the only
  * DataSource V2 write the queries make): shuffle exchanges, sorts, and
  * the file scans' row and time metrics. */
final class PlanStats(sink: Map[String, Double] => Unit) extends QueryExecutionListener {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) {
      val all = nodes(qe.executedPlan)
      val scans = all.collect { case s: FileSourceScanExec => s }
      def metric(s: SparkPlan, name: String): Double = s.metrics.get(name).map { m =>
        m.metricType match {
          case "nsTiming" => m.value / 1e9
          case "timing" => m.value / 1e3
          case _ => m.value.toDouble
        }
      }.getOrElse(0.0)
      sink(Map(
        "exchanges" -> all.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
        "sorts" -> all.count(_.isInstanceOf[SortExec]).toDouble,
        "scan_rows" -> scans.map(metric(_, "numOutputRows")).sum,
        "scan_time_s" -> scans.map(metric(_, "scanTime")).sum))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
