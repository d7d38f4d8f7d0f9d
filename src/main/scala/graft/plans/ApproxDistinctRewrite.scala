package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: rewrite exact COUNT(DISTINCT x) to a HyperLogLog++
  * sketch when `spark.graft.approxDistinct.enabled` is set (default
  * off) — [[ApproxPercentileRewrite]]'s sibling for the OTHER aggregate
  * whose exact form doesn't scale.
  *
  * Exact distinct counting re-shuffles the aggregate on the distinct
  * keys (Spark's RewriteDistinctAggregates expand) — fine at benchmark
  * scale, a second corpus-sized exchange at 100 TB — while the
  * reference's engines answer the same question from constant-size
  * mergeable registers (ClickHouse `uniq()`, reference
  * clickhouse/queries.sql:20-27; our q10/q10b pair makes the same
  * exact-vs-approx trade explicit).
  * Default-off because exact is the oracle-comparable path; a 100 TB
  * deployment flips the flag and every COUNT(DISTINCT) in the workload
  * becomes single-pass mergeable state with no query changes.
  *
  * Only single-argument distinct counts rewrite: HLL++ takes one child,
  * and silently struct-packing a multi-column COUNT(DISTINCT a, b)
  * would change its NULL semantics (the exact form drops rows where ANY
  * key is NULL; a struct never is NULL) — the multi-column form keeps
  * the exact implementation. Result type is LongType either way, so no
  * cast-back is needed (unlike the percentile rewrite).
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  val FLAG = "spark.graft.approxDistinct.enabled"
  /** Relative standard deviation of the sketch (approx_count_distinct's
    * default). */
  val RSD = 0.05

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!SQLConf.get.getConfString(FLAG, "false").toBoolean) plan
    else {
      plan.transformAllExpressions {
        case ae @ AggregateExpression(Count(children), _, true, _, _)
            if children.length == 1 =>
          ae.copy(
            aggregateFunction = HyperLogLogPlusPlus(children.head, RSD),
            isDistinct = false)
      }
    }
  }
}
