package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session (Spark
  * sessions are expensive; ScalaTest suites run sequentially in the forked
  * JVM) built by [[Sessions.local]], so tests run exactly the mains'
  * session config, on 4 worker threads and 4 shuffle partitions.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local(cpus = "4")
}
