package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed plans of the specs' queries and walks over them. Like
  * [[JobCount]], lives in Spark's package to drain the package-private
  * listener bus before the plans are read. */
object QueryPlans {

  /** Executed plans of the SQL executions that succeed while `body` runs
    * (the specs run one at a time, so every execution in the window is
    * the body's). */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(
          funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of an executed plan, through adaptive query stages and
    * the physical plan of a command. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => p.children.flatMap(nodes)
  })

  def rangeExchanges(p: SparkPlan): Int = nodes(p).count {
    case e: ShuffleExchangeLike =>
      e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }
}
