package graft

/** Dev harness: materialize an N× replica fixture for a source dir so
  * [[RunOne]] can time a query at replica scale (this builds exactly what
  * [[BenchScale.ensure]] builds, and the replica is reused until tmp is
  * cleared).
  * Usage: runMain graft.ReplicaBuild <srcDir> <copies> [table,table,…]
  * Prints the replica dir path on the last stdout line. */
object ReplicaBuild {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val copies = args(1).toInt
    val tables =
      if (args.length > 2) args(2).split(",").toSeq
      else Seq("lineitem", "orders", "documents")
    val spark = Sessions.local()
    val out = BenchScale.ensure(spark, srcDir, copies, tables)
    println(out)
    spark.stop()
  }
}
