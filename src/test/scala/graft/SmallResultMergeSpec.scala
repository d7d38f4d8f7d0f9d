package graft

import org.apache.spark.{JobCount, QueryPlans}
import org.apache.spark.QueryPlans.nodes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.functions.{col, count, lit, max}

/** [[graft.plans.SmallResultMerge]]: a small materialized stage finishes
  * the query in one partition — no range exchange, no sampling job — and
  * never changes a result. */
class SmallResultMergeSpec extends SparkSpec {

  private val dashboards = Seq(
    "q01_agg_by_type", "q02_rollup_month",
    "q03_yoy_window", "q04_topn_percentiles")

  private def rangeExchanges(df: DataFrame): Int =
    QueryPlans.rangeExchanges(df.queryExecution.executedPlan)

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf001)

  private def withThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Q1-Q4 finish without a range exchange, merging exactly once") {
    dashboards.foreach { n =>
      val df = query(n)
      df.collect()
      assert(rangeExchanges(df) == 0, s"$n kept a range exchange")
      val merges = nodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[CoalesceExec])
      assert(merges == 1, s"$n: $merges merges in the final plan")
    }
  }

  test("dashboard queries run in at most their pinned job counts") {
    // q04 keeps its top-10 aggregate, the top-10 selection and the
    // broadcast of the 10 keys ahead of the final aggregate
    val pins = Map(
      "q01_agg_by_type" -> 2, "q02_rollup_month" -> 2,
      "q03_yoy_window" -> 2, "q04_topn_percentiles" -> 4)
    pins.foreach { case (n, pin) =>
      query(n) // schema memo warm: builds start no job
      val (_, jobs) = JobCount.during(spark)(query(n).collect())
      assert(jobs <= pin, s"$n ran $jobs jobs (pin $pin)")
    }
  }

  test("rows are identical with the merge turned off") {
    val names = dashboards ++ Seq("q05_median_by_year", "q06_recent_top100")
    names.foreach { n =>
      val merged = query(n).collect().toSeq
      val plain = withThreshold("-1") {
        val df = query(n)
        val rows = df.collect().toSeq
        assert(nodes(df.queryExecution.executedPlan)
          .forall(!_.isInstanceOf[CoalesceExec]), s"$n merged at -1")
        rows
      }
      assert(merged.nonEmpty, s"$n returned no rows")
      assert(merged == plain, s"$n rows differ with the merge on")
    }
  }

  test("a stage above the threshold keeps its range exchange") {
    withThreshold("1") {
      val df = query("q01_agg_by_type")
      df.collect()
      assert(rangeExchanges(df) == 1)
    }
  }

  test("a small stage under a join keeps the exchange above the join") {
    val li = Tables.load(spark, sf001, "lineitem")
    val counts = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val tops = li.groupBy("l_returnflag")
      .agg(max(col("l_extendedprice")).as("top"))
    val df = counts.join(tops, "l_returnflag").orderBy(col("n").desc)
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rangeExchanges(df) == 1)
    assert(!nodes(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[CoalesceExec]))
    assert(rows.map(_.getLong(1)).toSeq ==
      rows.map(_.getLong(1)).toSeq.sorted.reverse)
  }
}
