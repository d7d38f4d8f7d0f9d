package graft
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Collects query `name` and writes the collected rows, with the
    * result's schema, as one parquet file under `outDir/name`. The oracle
    * thereby checks the rows of the plan `collect()` runs — the one users,
    * specs and `e2ebench` run — not a plan re-shaped by a write. Releases
    * the query's cached frames and checkpoints; construction and action
    * share the calling thread, so the thread-local ledger holds exactly
    * this query's. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      name: String): Unit =
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    } finally Caches.release()

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args restrict the dump to named queries — the
    // targeted-iteration path (oracle_check.py skips absent dumps)
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // concurrent query submission: Spark schedules jobs from multiple
    // driver threads fairly, and 4 in flight keep the session's worker
    // threads busy while single-stage queries come and go
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val selected = SparkEntry.queries.keys.toSeq
      .filter(name => only.isEmpty || only.contains(name))
    val futures = selected.map { name =>
      scala.concurrent.Future {
        try dump(spark, sfDir, outDir, name)
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    OracleDump.write(s"$outDir/oracle_sql.json", SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only.contains(k) })
    spark.stop()
  }
}
