package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of everything a query run caches: a per-thread ledger
  * of the frames it persisted and the checkpoints it took, freed by
  * [[release]] once the query's action completes.
  *
  * Queries persist intermediates that feed self-joins (minhash bands,
  * simhash signatures, token sets, k-means corpus), because Spark does
  * not share subexpressions across self-join sides, and iterative
  * operators checkpoint each round to truncate lineage. Either kind of
  * block, left alive, accretes memory pressure across the queries a
  * long-lived session runs. Construction and action run on the same
  * thread in every entry point (Verify, RunOne, PlanDump, e2ebench,
  * tests), so a thread-local ledger frees exactly the blocks of the
  * query that thread ran; a global `clearCache()` or sweep would also
  * free the blocks of queries other threads still have in flight.
  */
object Caches {
  /** A ledgered frame: either one persisted as itself, or one whose
    * checkpoint blocks live in an internal RDD. */
  private val ledger =
    ThreadLocal.withInitial(() => ArrayBuffer.empty[DataFrame])

  implicit final class Tracked(private val df: DataFrame) extends AnyVal {
    /** `persist()` + register for [[release]]. */
    def persistTracked(): DataFrame = {
      df.persist()
      Caches.ledger.get() += df
      df
    }

    /** [[persistTracked]] at MEMORY_AND_DISK_SER, for WIDE frames
      * (token arrays, text columns) whose deserialized object graphs
      * are several times their serialized size: serialized blocks trade
      * a little decode CPU for a heap the collector can keep up with. */
    def persistTrackedSer(): DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      Caches.ledger.get() += df
      df
    }

    /** `localCheckpoint()` + register for [[release]]: the returned
      * frame reads the checkpoint's internal RDD, whose blocks
      * [[release]] (or an earlier [[free]]) unpersists. */
    def checkpointTracked(): DataFrame = {
      val ck = df.localCheckpoint()
      Caches.ledger.get() += ck
      ck
    }
  }

  /** Free one frame's own blocks now, mid-query: its checkpoint's
    * internal RDD if it is a checkpointed frame, its cache otherwise.
    * Checkpoints it only reads stay, since live frames may read them
    * too. For iterative operators whose earlier rounds are dead; freeing
    * a frame twice is harmless, so the ledger keeps it for [[release]]. */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** Free every frame and checkpoint the current thread's queries
    * ledgered since the last release. Call after the query's action;
    * non-blocking. */
  def release(): Unit = {
    val l = ledger.get()
    l.foreach(free)
    l.clear()
  }

  /** Drop EVERY persistent RDD registered with the context, whoever made
    * it. Unsafe while another query is in flight: a checkpoint's lineage
    * is truncated, so dropping its blocks mid-query makes it
    * unrecomputable. The engine never calls it; it stays for the
    * `e2ebench` harness, which sweeps between phases when no op runs.
    * `blocking = true` waits until the BlockManager has dropped the
    * blocks, so the next phase does not race the free. */
  def sweepOrphans(spark: org.apache.spark.sql.SparkSession,
      blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = blocking))
}
