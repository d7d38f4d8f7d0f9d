package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: rewrite exact percentiles to mergeable
  * approx_percentile sketches when `spark.graft.approxPercentile.enabled`
  * is set (default off).
  *
  * This encodes the reference's Q4 lesson (SURVEY §7.5c): exact
  * percentile_cont sorts every group — fine at benchmark scale, ruinous
  * at 100 TB — while ClickHouse's t-digest variant answers the same
  * question from constant-size mergeable state
  * (queries/q4-top-countries-percentiles/README.md:222-244, ~27 ms vs
  * PostgreSQL's 4.3 s exact sort). Default-off because the exact form is
  * the ORACLE-comparable one; a 100 TB deployment flips the flag and
  * every percentile query in the workload switches to the sketch path
  * with no query changes.
  */
object ApproxPercentileRewrite extends Rule[LogicalPlan] {

  val FLAG = "spark.graft.approxPercentile.enabled"
  /** Sketch accuracy (Spark's approx_percentile default). */
  val ACCURACY = 10000

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!SQLConf.get.getConfString(FLAG, "false").toBoolean) plan
    else {
      plan.transformAllExpressions {
        // Percentile always yields DOUBLE (or ARRAY<DOUBLE>) but
        // ApproximatePercentile yields the CHILD's type — a long-typed
        // input (integer-cents money columns) would otherwise change the
        // aggregate's result type under consumers that resolved against
        // the exact form. Cast back to the original dataType.
        // Only the unweighted form rewrites: ApproximatePercentile has no
        // frequency argument, so a 3-arg percentile(col, p, freq) with a
        // non-unit weight must KEEP the exact implementation rather than
        // silently weighting every row 1.
        case ae @ AggregateExpression(p: Percentile, _, _, _, _)
            if p.frequencyExpression == Literal(1L) =>
          Cast(
            ae.copy(aggregateFunction = new ApproximatePercentile(
              p.child, p.percentageExpression, Literal(ACCURACY))),
            p.dataType)
      }
    }
  }
}
