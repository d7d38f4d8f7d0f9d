package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

/** Per-thread ledger of the DataFrames a query run has persisted, so the
  * harness can release them once the query's action completes.
  *
  * Queries persist intermediates that feed self-joins (minhash bands,
  * simhash signatures, token sets, k-means corpus) — necessary, because
  * Spark does not share subexpressions across self-join sides. But a
  * `persist()` with no matching `unpersist()` accretes cached blocks across
  * a 60+-query sweep: by round 2 the bench carried every block from every
  * prior query × 2 runs, and the latency-sensitive queries late in
  * alphabetical order (q31/q44 streaming-shaped, q36/q48) regressed 2–4×
  * from the memory pressure. Construction and action run on the same
  * thread in every entry point (Verify, RunOne, PlanDump, e2ebench,
  * tests), so a thread-local ledger + release-after-action gives each
  * query a clean cache without a global `clearCache()` stomping on
  * Verify's concurrent in-flight queries.
  */
object Caches {
  private val ledger =
    ThreadLocal.withInitial(() => ArrayBuffer.empty[DataFrame])

  implicit final class Tracked(private val df: DataFrame) extends AnyVal {
    /** `persist()` + register for [[release]] by the harness. */
    def persistTracked(): DataFrame = {
      df.persist()
      Caches.ledger.get() += df
      df
    }

    /** [[persistTracked]] at MEMORY_AND_DISK_SER — for WIDE frames
      * (token arrays, text columns) whose deserialized object graphs
      * are several times their serialized size: at the 50× sweep the
      * q68/q127 chain's deserialized token-set cache drove 9.9 s GC
      * pauses into the worst forked runs (r8 verdict item #3);
      * serialized blocks trade a little decode CPU for a heap the
      * collector can actually keep up with. */
    def persistTrackedSer(): DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      Caches.ledger.get() += df
      df
    }
  }

  /** Unpersist every frame the current thread's queries persisted since the
    * last release. Harness-side, after the query's action; non-blocking. */
  def release(): Unit = {
    val l = ledger.get()
    l.foreach(_.unpersist(blocking = false))
    l.clear()
  }

  /** Drop EVERY persistent RDD still registered with the context —
    * including `localCheckpoint` blocks, which [[release]] cannot see
    * (checkpoints persist an internal RDD, not a ledgered DataFrame).
    * Over a 325-query × 2-run bench in one JVM those blocks accreted
    * until second runs degraded up to 11× under memory pressure and the
    * driver log filled with "Block rdd_N already exists" (r7 verdict
    * item #4). ONLY safe between queries when no other query is in
    * flight — a checkpoint's lineage is truncated, so dropping its
    * blocks mid-query would make recomputation impossible. RunOne runs
    * strictly sequentially, so it sweeps after every timed run; Verify
    * submits 4 queries concurrently and must NOT sweep per-query.
    *
    * `blocking = true` waits for the BlockManager to actually drop the
    * blocks before returning — RunOne passes it so no timed run
    * races an async free of the previous run's blocks (r7 verdict: the
    * non-blocking sweep raced the next timed run and second runs
    * degraded up to 11× on the driver box while CPU probes stayed
    * flat; the contamination was invisible to the artifact). */
  def sweepOrphans(spark: org.apache.spark.sql.SparkSession,
      blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = blocking))
}
