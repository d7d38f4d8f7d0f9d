package graft

import java.nio.file.Files

import org.apache.spark.JobCount
import org.apache.spark.sql.functions.{col, lit}

/** The stamped schema memo behind [[Tables.load]] and the session
  * defaults every entry point shares. */
class TablesSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft_tables").toString

  test("a second load of an unchanged table starts no Spark job") {
    val dir = freshDir()
    Tables.load(spark, sf001, "orders").limit(50)
      .write.parquet(Tables.path(dir, "orders"))
    val (first, inferJobs) =
      JobCount.during(spark)(Tables.load(spark, dir, "orders"))
    assert(inferJobs >= 1, "the first load must infer the footer schema")
    val (second, jobs) =
      JobCount.during(spark)(Tables.load(spark, dir, "orders"))
    assert(jobs == 0, s"memoized load started $jobs job(s)")
    assert(second.schema == first.schema)
    assert(second.count() == 50L)
  }

  test("a table rewritten with a different schema loads the new schema") {
    val dir = freshDir()
    val p = Tables.path(dir, "orders")
    spark.range(3).select(col("id").as("a")).write.parquet(p)
    assert(Tables.load(spark, dir, "orders").columns.toSeq == Seq("a"))
    spark.range(5).select(col("id").as("b"), lit("x").as("c"))
      .write.mode("overwrite").parquet(p)
    val reloaded = Tables.load(spark, dir, "orders")
    assert(reloaded.columns.toSeq == Seq("b", "c"))
    assert(reloaded.count() == 5L)
  }

  test("a result-cache hit reads its entry without a Spark job") {
    val q = graft.operators.ResultCache.q250
    q.run(spark, sf001).collect()
    val (df, jobs) = JobCount.during(spark)(q.run(spark, sf001))
    assert(jobs == 0, s"cache-hit build started $jobs job(s)")
    assert(df.collect().nonEmpty)
  }

  test("sessions default to the processors of the machine") {
    val procs = Runtime.getRuntime.availableProcessors.toString
    assert(Sessions.defaultCpus(Map.empty) == procs)
    assert(Sessions.defaultCpus(Map("SPARK_GRAFT_CPUS" -> "3")) == "3")
  }
}
