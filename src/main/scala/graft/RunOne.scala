package graft

/** Dev loop: run ONE registered query by name against a fixture dir and
  * print, per run, the rows its `collect()` returned and the wall time —
  * timed the way `e2ebench` times an op, so the plan measured is the plan
  * users run (a `.count()` lets Catalyst prune aggregates and sorts).
  * Each run releases what it cached and checkpointed (`Caches.release`)
  * inside its timing, as `e2ebench` does after every op.
  * Verify (all queries, oracle dump) is too coarse for per-query work.
  * Usage: runMain graft.RunOne <name> [sfDir] [runs]. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = Sessions.local()
    val fn = SparkEntry.queries.getOrElse(
      name, sys.error(s"unknown query: $name"))
    // warm the session (executor threads, codegen, parquet reader,
    // shuffle machinery) so run 1 measures the QUERY cold, not the JVM
    // cold. Guarded: a fixture/replica dir without lineitem (e.g. a
    // documents-only store replica) must still serve the named query —
    // the warm-up is an optimization, never a precondition
    try Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").count().collect()
    catch {
      case t: Throwable =>
        System.err.println(s"[runone] warm-up skipped ($t)")
    }
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val n =
        try fn(spark, sfDir).collect().length
        finally Caches.release()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[runone] $name run $i: $n rows collected, $dt%.2f s")
    }
    spark.stop()
  }
}
