package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in query-acceleration rule: rewrites exact `COUNT(DISTINCT x)`
  * aggregates to HyperLogLog++ (`approx_count_distinct`, default 5%
  * relative error) when `spark.graft.approxCountDistinct=true`.
  *
  * Why this is a 100 TB lever: Catalyst plans a single exact distinct
  * aggregate as TWO aggregation phases keyed on (group, x) — an extra
  * full shuffle of the distinct pairs — and multi-distinct queries get
  * an Expand multiplying the input once per distinct column. The HLL
  * sketch is one partial+final pass with constant-size state, so
  * dashboards and profiling sweeps that tolerate ±5% trade nothing
  * else. The rule is conservative: single-argument, unfiltered
  * count(distinct) only, and OFF by default (the correctness gate
  * always runs exact).
  *
  * Installed by [[graft.GraftExtensions]], so every
  * [[graft.GraftSession]] session (and any session configured with
  * `spark.sql.extensions=graft.GraftExtensions`) carries it. It reads
  * the flag from the active session's conf at optimization time, so
  * it sits in the rule list permanently and is inert while off.
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {
  val Flag = "spark.graft.approxCountDistinct"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(Flag, "false").toBoolean) plan
    else plan.transformUp {
      case agg: Aggregate => agg.transformExpressionsUp {
        case ae: AggregateExpression
            if ae.isDistinct && ae.filter.isEmpty &&
              ae.aggregateFunction.isInstanceOf[Count] &&
              ae.aggregateFunction.children.size == 1 =>
          ae.copy(
            aggregateFunction =
              HyperLogLogPlusPlus(ae.aggregateFunction.children.head),
            isDistinct = false)
      }
    }
}
