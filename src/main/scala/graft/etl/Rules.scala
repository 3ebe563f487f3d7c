package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Data-quality rules as a small ADT, evaluated in ONE pass.
  *
  * The reference counts each rule's violations with a separate
  * `filter(...).count()` job — five full scans of the join before the
  * combined filter (ref `glue_jobs/etl_job.py:75-111`, the anti-pattern
  * SURVEY.md §4 calls out). Here the per-rule breakdown rides the main
  * job as `observe()` accumulators: zero extra scans at any scale.
  *
  * The future-date rule takes an injected clock instead of
  * `current_timestamp()` (ref `etl_job.py:82,95`) so results are
  * deterministic and testable.
  */
sealed trait Rule {
  def name: String
  /** Predicate that GOOD rows satisfy. Null-safe: a null never passes
    * unless the rule is specifically about nulls. */
  def passes: Column
}

final case class NotNull(column: String) extends Rule {
  val name = s"${column}_not_null"
  def passes: Column = col(column).isNotNull
}

final case class Positive(column: String) extends Rule {
  val name = s"${column}_positive"
  def passes: Column = col(column).isNotNull && col(column) > 0
}

final case class NotAfter(column: String, clock: Timestamp) extends Rule {
  val name = s"${column}_not_future"
  def passes: Column = col(column).isNotNull && col(column) <= lit(clock)
}

final case class OneOf(column: String, allowed: Seq[String]) extends Rule {
  val name = s"${column}_allowed"
  def passes: Column = col(column).isin(allowed: _*)
}

/** Violation counts observed during the clean pass. */
final case class RuleStats(totalRows: Long, kept: Long, violationsByRule: Map[String, Long]) {
  def discarded: Long = totalRows - kept
  def discardRate(rule: String): Double =
    if (totalRows == 0) 0.0 else violationsByRule(rule).toDouble / totalRows
}

object Rules {
  /** Applies the conjunction of all rules as one filter, attaching an
    * [[Observation]] that counts rows, kept rows, and per-rule violations
    * in the same pass (rows may violate several rules — counts overlap,
    * ref `glue_jobs/etl_job.py:91`). Call [[stats]] after an action has
    * materialized the returned DataFrame.
    */
  def clean(df: DataFrame, rules: Seq[Rule]): (DataFrame, Observation) = {
    val obs = Observation()
    val keep = rules.map(_.passes).reduce(_ && _)
    val metrics =
      Seq(count(lit(1)).as("__total"), count(when(keep, 1)).as("__kept")) ++
        rules.map(r => count(when(!r.passes, 1)).as(r.name))
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    (observed.filter(keep), obs)
  }

  /** Collect the observed metrics (requires a completed action). `kept`
    * counts the rows of THIS pass that pass every rule, whatever the
    * action wrote them into. */
  def stats(obs: Observation, rules: Seq[Rule]): RuleStats = {
    val m = obs.get
    RuleStats(
      totalRows = m("__total").asInstanceOf[Long],
      kept = m("__kept").asInstanceOf[Long],
      violationsByRule = rules.map(r => r.name -> m(r.name).asInstanceOf[Long]).toMap)
  }
}
