package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Caches
import graft.Caches.Tracked

/** Distributed connected components by min-label propagation with pointer
  * halving — the clustering step that turns near-dup PAIR lists into
  * dedup groups (q68), usable for any undirected graph expressed as
  * DataFrames. Per round: one join + one aggregate shuffle over the edge
  * set plus a label-map self-join; pointer halving (follow your label to
  * ITS label) gives O(log n)-round convergence on chains — the
  * MapReduce-CC recipe of Kiveris et al. (MR'14 "Connected Components in
  * MapReduce and Beyond"). Driver state is one convergence counter per
  * round, never the graph.
  *
  * Every round checkpoints its labels: iterative plans must TRUNCATE
  * lineage, not just cache it — each round's plan embeds the previous
  * round's twice (the halving self-join), so with persist alone catalyst
  * re-analyzes a plan that doubles per round (this cost q68 190 s at
  * sf0.1 before the fix; 8 s after). The checkpoints are ledgered
  * (`checkpointTracked`), and each round frees its dead predecessors
  * with [[graft.Caches.free]]. On a cluster, reliable checkpoints would
  * replace local ones for fault tolerance; same algorithm.
  */
object Components {

  /** Labels every node with the MINIMUM node id of its connected
    * component — the unique fixpoint, independent of round count or
    * partitioning.
    *
    * @param nodes one column: node id (numeric or orderable)
    * @param pairs two columns: one row per undirected edge, either
    *              orientation; endpoints must appear in `nodes`
    * @return columns (id, lbl): node id → component min id
    */
  def connectedComponents(
      nodes: DataFrame,
      pairs: DataFrame,
      maxRounds: Int = 32,
      tag: String = "cc"): DataFrame = {
    val p0 = pairs.toDF("src", "dst")
    // dst-partitioned ONCE (r9, guide §2.4 "establish the partitioning
    // once"): the edge set is static across rounds, and with the
    // node-sized label side broadcast (below) each round's
    // neighbor-min groupBy(dst) then reuses this layout with NO
    // per-round exchange — localCheckpoint preserves the partitioning
    // through LogicalRDD
    val edges = p0
      .union(p0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .checkpointTracked()
    // convergence via the label-sum potential: labels only ever decrease,
    // so Σ lbl (exact DECIMAL(38,0) — no Long overflow, no FP) strictly
    // decreases iff any label changed. The sum (and the node count the
    // broadcast gate needs) ride the checkpoint's own materialization
    // job as OBSERVED metrics (r10, guide §1.2/§2.4 — don't run a
    // separate pass for a number the materializing job already saw):
    // Dataset.observe collects during the job localCheckpoint runs, so
    // the per-round convergence probe and the up-front count()/sum()
    // jobs disappear outright.
    val sumCol = sum(col("lbl")
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s")
    def obsSum(o: org.apache.spark.sql.Observation): java.math.BigDecimal =
      o.get("s") match {
        case d: java.math.BigDecimal => d
        case _ => java.math.BigDecimal.ZERO // empty node set sums to null
      }
    val obs0 = new org.apache.spark.sql.Observation(s"${tag}_init")
    var labels = nodes.toDF("id")
      .select(col("id"), col("id").as("lbl"))
      .observe(obs0, sumCol, count(lit(1)).as("n"))
      .checkpointTracked()
    var prevSum = obsSum(obs0)
    // label frames are node-sized: broadcast them into the static edge
    // scan when they actually fit (r9, guide §3.1) — a round then runs
    // broadcast-join → in-place groupBy(dst) with ZERO exchanges over
    // the edge set. The decision uses the MATERIALIZED node count (the
    // labels frame is already checkpointed; optimizer size estimates
    // are opaque for LogicalRDD plans) through Gates.bcastIfUnder at
    // its 64 B/row default: a broadcast HashedRelation costs several-fold
    // more than the 16 B of raw (id, lbl) payload per row — hash slots,
    // UnsafeRow headers, growth slack (r10). The ceiling is the
    // ITERATION broadcast budget (128 MB; q427's adjacency gate shares
    // it): per-round label broadcasts are rebuilt and dropped every
    // round, and the session-wide 10 MB autoBroadcastJoinThreshold is
    // tuned for long-lived plan-time relations — gating on it would
    // force EVERY round of a 250k-node clustering through two label
    // shuffles (measured 17% slower end-to-end, r10). Beyond the
    // ceiling each round falls back to the shuffled shape unchanged.
    val nNodes = obs0.get("n") match { case n: Long => n; case _ => 0L }
    def maybeBcast(df: DataFrame): DataFrame = Gates.bcastIfUnder(df, nNodes)
    var changed = true
    var rounds = 0
    while (changed && rounds < maxRounds) {
      val nbrMin = edges
        .join(
          maybeBcast(
            labels.select(col("id").as("src"), col("lbl").as("nlbl"))),
          Seq("src"))
        .groupBy(col("dst")).agg(min(col("nlbl")).as("nmin"))
      // stepped is CHECKPOINTED before the halving self-join (r9): its
      // two join sides shuffle on DIFFERENT keys (lbl vs mid), so no
      // exchange reuse applies and a lazy plan would run the whole
      // edge-sized nbrMin pipeline twice per round
      val stepped = labels
        .join(maybeBcast(nbrMin.withColumnRenamed("dst", "id")),
          Seq("id"), "left")
        .select(
          col("id"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
        .checkpointTracked()
      // pointer halving: follow my label to ITS label (labels only ever
      // decrease, so label(label(id)) <= label(id))
      val lblMap =
        stepped.select(col("id").as("mid"), col("lbl").as("mlbl"))
      // jumped is checkpointed too: lazy, its halving broadcast would
      // be rebuilt by every consumer (the sum probe + both of next
      // round's joins) — A/B'd slower than the one materialization
      // the round's convergence sum rides jumped's checkpoint job as an
      // observed metric — no separate aggregate job per round (r10)
      val obsR = new org.apache.spark.sql.Observation(s"${tag}_r$rounds")
      val jumped = stepped
        .join(maybeBcast(lblMap), col("lbl") === col("mid"), "left")
        .select(
          col("id"),
          least(col("lbl"), coalesce(col("mlbl"), col("lbl"))).as("lbl"))
        .observe(obsR, sumCol)
        .checkpointTracked()
      val newSum = obsSum(obsR)
      // jumped is materialized (the sum probe ran): the previous
      // round's labels and this round's stepped checkpoint blocks are
      // dead — release them now instead of letting up to 32 rounds of
      // node-sized blocks accrete until query end (ADVICE r9). jumped's
      // own lineage is truncated at its checkpoint, so freeing its
      // inputs can never make it unrecomputable-wrong, only (on cache
      // eviction) slower.
      Caches.free(labels)
      Caches.free(stepped)
      changed = newSum.compareTo(prevSum) != 0
      prevSum = newSum
      labels = jumped
      rounds += 1
    }
    require(!changed,
      s"$tag: label propagation did not converge in $rounds rounds")
    labels
  }
}
