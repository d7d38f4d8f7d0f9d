package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Repartition, Sort, Window}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS

/** Adaptive (runtime) optimizer rule: once a query stage has run and
  * turned out small, finish the query in ONE partition instead of
  * shuffling its few rows again.
  *
  * A dashboard query (Q1–Q4) aggregates a large scan down to a handful of
  * rows, then sorts or windows them. AQE coalesces the aggregate's
  * shuffle read to one partition, but that read still reports hash
  * partitioning, so a global ORDER BY above it gets a range exchange of
  * its own — one more stage, plus the RangePartitioner's sampling job —
  * and a window gets another hash exchange. No session config removes
  * them. This rule wraps the materialized stage in
  * `Repartition(1, shuffle = false)`; the planned `CoalesceExec(1)`
  * reports `SinglePartition`, which satisfies every distribution the
  * final aggregate, window and sort ask for, so they run in the result
  * task. AQE keeps the re-planned query because it has fewer shuffles.
  * The root server of Dremel (VLDB 2020) merges small results in one
  * place the same way.
  *
  * It fires only when:
  *  - the stage is materialized, so its size is measured, not estimated;
  *  - that size is ≤ `spark.sql.autoBroadcastJoinThreshold`, the size
  *    the engine already deems fine for one task to hold (`-1` turns the
  *    rule off along with broadcast joins);
  *  - every operator from the root down to the stage is a deterministic
  *    Project, Filter, Aggregate, Window, Sort or Limit — none of them
  *    expands its input, so the rows above are no more than the stage's;
  *  - the stage is one hash shuffle the planner inserted — not a range
  *    shuffle (its partition order IS the sort) and not a requested
  *    repartition (its layout is the point) — so one partition loses
  *    nothing the stage's consumers rely on.
  *
  * Idempotent: the descent stops at any other operator, the merge itself
  * included, so a merged stage is never wrapped twice.
  */
object SmallResultMerge extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val limit = conf.autoBroadcastJoinThreshold
    if (limit < 0) plan else merge(plan, BigInt(limit))
  }

  private def merge(p: LogicalPlan, limit: BigInt): LogicalPlan = p match {
    case s: LogicalQueryStage
        if s.isMaterialized && s.stats.sizeInBytes <= limit &&
          plannedHashShuffle(s) =>
      Repartition(1, shuffle = false, s)
    case _: Project | _: Filter | _: Aggregate | _: Window | _: Sort |
        _: GlobalLimit | _: LocalLimit
        if p.expressions.forall(_.deterministic) =>
      p.withNewChildren(Seq(merge(p.children.head, limit)))
    case _ => p
  }

  private def plannedHashShuffle(s: LogicalQueryStage): Boolean =
    s.physicalPlan.collect { case q: QueryStageExec => q } match {
      case Seq(q: ShuffleQueryStageExec) =>
        q.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS &&
          !q.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
}
