package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{broadcast, count_if, lit}
import graft.Caches.Tracked

/** Shared size ceiling for MEASURED broadcast decisions inside
  * iterative operators (connected components' per-round label frames,
  * k-truss's per-peel adjacency). Every other join is left to Spark's
  * planner, which broadcasts a side whose estimate fits
  * `spark.sql.autoBroadcastJoinThreshold` (and AQE converts at run time).
  * These gates differ from that rule in both input and threshold: the
  * row/element counts are exactly known (materialized frames), so the
  * bytes model is trustworthy where optimizer estimates over
  * checkpointed/cached inputs are not; and the ceiling is the per-round
  * broadcast budget — guide §3.1's "a few hundred MB is usually fine" —
  * rather than the session threshold, which is sized for plan-time
  * estimate errors on long-lived relations. Past the ceiling every
  * caller falls back to its shuffled shape unchanged.
  */
object Gates {
  /** Ceiling in bytes for per-iteration broadcasts (128 MB). */
  private val iterBroadcastBytes: Long = 128L << 20

  /** Broadcast `df` iff `rows` (a MEASURED count — the caller owns an
    * exact figure from a checkpoint/materialization, which is why this
    * beats optimizer estimates over cached/checkpointed inputs) at
    * `bytesPerRow` (64 B default — the HashedRelation cost of a few
    * numeric columns) fits the iteration ceiling; unchanged otherwise,
    * so the join falls back to its shuffled shape at corpus scale. */
  def bcastIfUnder(df: DataFrame, rows: Long, bytesPerRow: Long = 64L)
      : DataFrame =
    if (rows * bytesPerRow <= iterBroadcastBytes) broadcast(df) else df

  private val obsSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A ledgered checkpoint (`checkpointTracked`) with a row count
    * OBSERVED during the checkpoint's own materialization job (r10,
    * guide §1.2/§2.4 — don't run a second pass for a number the
    * materializing job already saw): the exact count that gates the next
    * round's broadcast otherwise costs one extra scan job per iteration
    * round. `where` narrows the count to the rows it holds (every row by
    * default), and `shape` runs between the observation and the
    * checkpoint, so the count also sees rows the checkpointed frame
    * drops (the tolerant CSV read counts its malformed rows and keeps
    * the rest). Returns the checkpointed frame and its count. */
  def checkpointCounted(df: DataFrame, tag: String,
      where: Column = lit(true), shape: DataFrame => DataFrame = identity)
      : (DataFrame, Long) = {
    val obs = new Observation(s"${tag}_${obsSeq.incrementAndGet()}")
    val ck = shape(df.observe(obs, count_if(where).as("n")))
      .checkpointTracked()
    (ck, obs.get("n") match { case n: Long => n; case _ => 0L })
  }
}
