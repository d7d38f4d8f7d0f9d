package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.VecDot

/** Native vec_dot expression: bit-parity with the lambda fold, codegen
  * path, and SparkSessionExtensions SQL registration.
  */
class VecDotSpec extends SparkSpec {
  import spark.implicits._

  private val lambdaDot =
    "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, e) -> acc + e)"

  test("vec_dot is bit-identical to the higher-order-function fold") {
    val vecs = Tables.load(spark, sf001, "embeddings")
      .select(
        col("embedding").cast("array<double>").as("a"),
        reverse(col("embedding")).cast("array<double>").as("b"))
    val diff = vecs
      .select(
        VecDot.dot(col("a"), col("b")).as("native"),
        expr(lambdaDot).as("lambda"))
      .filter(col("native") =!= col("lambda"))
      .count()
    assert(diff == 0)
  }

  test("vec_dot handles nulls and known values") {
    val df = Seq(
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
      (None, Some(Seq(1.0)))
    ).toDF("a", "b")
    val out = df.select(VecDot.dot(col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) == 32.0)
    assert(out(1).isNullAt(0))
  }

  test("vec_dot participates in whole-stage codegen") {
    val vecs = Tables.load(spark, sf001, "embeddings")
      .select(col("embedding").cast("array<double>").as("a"))
    val plan = vecs.select(VecDot.dot(col("a"), col("a")).as("d"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert(plan.linesIterator.exists(l =>
      l.contains("vec_dot") && l.trim.startsWith("*(")),
      s"vec_dot not inside a codegen stage:\n$plan")
  }

  test("extension registers vec_dot for SQL entry points") {
    // GraftExtensions rides Tables.sessionConfigs, so the shared session
    // (and every Sessions.local session) has vec_dot registered for spark.sql
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(r == 11.0)
  }
}
