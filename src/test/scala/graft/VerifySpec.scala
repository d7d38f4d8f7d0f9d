package graft

import java.nio.file.Files

import org.apache.spark.QueryPlans
import org.apache.spark.sql.execution.FileSourceScanExec

/** [[Verify.dump]] hands the oracle the rows of the plan `collect()` runs:
  * the plan users run, not one re-shaped by a write. */
class VerifySpec extends SparkSpec {

  test("q01 dump equals its collect() rows, from a plan with no range " +
      "exchange") {
    val name = "q01_agg_by_type"
    val out = Files.createTempDirectory("graft_verify").toString
    val (_, plans) =
      QueryPlans.during(spark)(Verify.dump(spark, sf001, out, name))

    val expected = SparkEntry.queries(name)(spark, sf001)
    val dumped = spark.read.parquet(s"$out/$name")
    assert(dumped.schema.map(f => (f.name, f.dataType)) ==
      expected.schema.map(f => (f.name, f.dataType)))
    assert(dumped.collect().toSeq == expected.collect().toSeq)
    assert(new java.io.File(s"$out/$name").list()
      .count(_.endsWith(".parquet")) == 1, "dump is not one parquet file")

    val readers = plans.filter(p => QueryPlans.nodes(p).exists {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains("sf0.001"))
      case _ => false
    })
    assert(readers.nonEmpty, "no plan of the dump read the fixture")
    readers.foreach { p =>
      assert(QueryPlans.rangeExchanges(p) == 0,
        s"the plan that read the fixture kept a range exchange:\n$p")
    }
  }
}
