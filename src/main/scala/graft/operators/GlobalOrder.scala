package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scale-safe global ordering primitives: a deterministic md5-shuffled
  * total order plus a running sum over it, WITHOUT ever collapsing the
  * data into a single-partition window. The shape: range-partition by
  * the shuffle key (so partition i holds a contiguous key range), one
  * cumulative-sum window per partition, and a partition-count-sized
  * offsets table (bounded, broadcast) bridging partitions. Shared by
  * q79 (global shuffle positions, value = 1) and q90 (global token
  * cumsum for sequence packing).
  */
object GlobalOrder {

  /** Adds `outCol` = inclusive global running sum of `value` in the
    * total order given by `order` (which MUST be a full tiebreak — a
    * non-total order makes the cumsum partition-placement-dependent).
    * Mechanics: range-repartition on the order, per-partition ROWS
    * cumsum, partition-count-sized broadcast offsets bridging
    * partitions — never a single-partition window. */
  def withOrderedCumsum(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      outCol: String,
      pidCol: String = "_graft_oc_pid"): DataFrame =
    withOrderedCumsums(df, order, Seq(value -> outCol), pidCol)

  /** Multi-column [[withOrderedCumsum]]: ALL the running sums in ONE
    * range shuffle + ONE per-partition window pass (the per-column
    * window expressions share a window spec, so Spark plans a single
    * Window operator; the offsets table carries one column per value).
    * A caller needing k cumsums in the same total order pays one
    * shuffle, not k (q340 paid 5 passes over the value rollup before
    * this existed — r8 bench read 4.8 s at sf0.1). */
  def withOrderedCumsums(
      df: DataFrame,
      order: Seq[Column],
      values: Seq[(Column, String)],
      pidCol: String = "_graft_oc_pid"): DataFrame = {
    import graft.Caches.Tracked
    val vCols = values.indices.map(i => s"${pidCol}_v$i")
    val sorted0 = df
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(pidCol, spark_partition_id())
    val sorted = values.zip(vCols)
      .foldLeft(sorted0) { case (acc, ((v, _), vc)) =>
        acc.withColumn(vc, v.cast(LongType))
      }
      .persistTracked()
    val ptots = vCols.map(vc => sum(col(vc)).as(s"ptot_$vc"))
    val offsets0 = sorted.groupBy(col(pidCol))
      .agg(ptots.head, ptots.tail: _*)
    val offW = Window.orderBy(col(pidCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = vCols
      .foldLeft(offsets0) { (acc, vc) =>
        acc.withColumn(s"off_$vc",
          coalesce(sum(col(s"ptot_$vc")).over(offW), lit(0L)))
      }
      .select(col(pidCol) +: vCols.map(vc => col(s"off_$vc")): _*)
    val cumW = Window.partitionBy(col(pidCol))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withIn = vCols.foldLeft(sorted) { (acc, vc) =>
      acc.withColumn(s"in_$vc", sum(col(vc)).over(cumW))
    }
    val joined = withIn.join(broadcast(offsets), Seq(pidCol))
    values.zip(vCols)
      .foldLeft(joined) { case (acc, ((_, out), vc)) =>
        acc.withColumn(out,
          (col(s"off_$vc") + col(s"in_$vc")).cast(LongType))
      }
      .drop(pidCol +: vCols.flatMap(vc =>
        Seq(vc, s"in_$vc", s"off_$vc")): _*)
  }

  /** [[withOrderedCumsums]] and [[withOrderedLags]] FUSED into one
    * range shuffle (r10): a caller needing running sums AND global
    * LAG(1)s in the SAME total order previously chained both
    * primitives and paid the range repartition + persist + offsets
    * machinery twice over an identical layout. One sorted frame now
    * feeds a single window pass (the cumsum frames and the lag share
    * one WindowExec — same partitioning and ordering), and ONE
    * partition-count-sized offsets table carries both the cumulative
    * sums of predecessors' totals and each partition's last lag value
    * (max_by over the order tuple; lag over the PRESENT pids bridges
    * empty partitions exactly as [[withOrderedLags]] does). Same
    * contracts: `order` must be a full tiebreak, lag values are cast
    * to Long and must be non-null interior. */
  def withOrderedCumsumsLags(
      df: DataFrame,
      order: Seq[Column],
      sums: Seq[(Column, String)],
      lags: Seq[(Column, String)],
      pidCol: String = "_graft_ocl_pid"): DataFrame = {
    import graft.Caches.Tracked
    val sCols = sums.indices.map(i => s"${pidCol}_s$i")
    val lCols = lags.indices.map(i => s"${pidCol}_l$i")
    val sorted0 = df
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(pidCol, spark_partition_id())
    val sorted = (sums.zip(sCols) ++ lags.zip(lCols))
      .foldLeft(sorted0) { case (acc, ((v, _), vc)) =>
        acc.withColumn(vc, v.cast(LongType))
      }
      .persistTracked()
    val ptots = sCols.map(vc => sum(col(vc)).as(s"ptot_$vc"))
    val plasts = lCols.map(vc =>
      max_by(col(vc), struct(order: _*)).as(s"plast_$vc"))
    val offsets0 = sorted.groupBy(col(pidCol))
      .agg((ptots ++ plasts).head, (ptots ++ plasts).tail: _*)
    val offW = Window.orderBy(col(pidCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bridgeW = Window.orderBy(col(pidCol))
    val offsets = lCols
      .foldLeft(sCols.foldLeft(offsets0) { (acc, vc) =>
        acc.withColumn(s"off_$vc",
          coalesce(sum(col(s"ptot_$vc")).over(offW), lit(0L)))
      }) { (acc, vc) =>
        acc.withColumn(s"prev_$vc",
          lag(col(s"plast_$vc"), 1).over(bridgeW))
      }
      .select(col(pidCol) +:
        (sCols.map(vc => col(s"off_$vc")) ++
          lCols.map(vc => col(s"prev_$vc"))): _*)
    val cumW = Window.partitionBy(col(pidCol))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lagW = Window.partitionBy(col(pidCol)).orderBy(order: _*)
    val withIn = lCols.foldLeft(sCols.foldLeft(sorted) { (acc, vc) =>
        acc.withColumn(s"in_$vc", sum(col(vc)).over(cumW))
      }) { (acc, vc) =>
        acc.withColumn(s"in_$vc", lag(col(vc), 1).over(lagW))
      }
    val joined = withIn.join(broadcast(offsets), Seq(pidCol))
    val withLags = lags.zip(lCols)
      .foldLeft(joined) { case (acc, ((_, out), vc)) =>
        acc.withColumn(out,
          coalesce(col(s"in_$vc"), col(s"prev_$vc")))
      }
    sums.zip(sCols)
      .foldLeft(withLags) { case (acc, ((_, out), vc)) =>
        acc.withColumn(out,
          (col(s"off_$vc") + col(s"in_$vc")).cast(LongType))
      }
      .drop(pidCol +: (sCols.flatMap(vc =>
        Seq(vc, s"in_$vc", s"off_$vc")) ++
        lCols.flatMap(vc => Seq(vc, s"in_$vc", s"prev_$vc"))): _*)
  }

  /** Adds `outCol` = EXCLUSIVE global running MAX of `value` in the
    * total order given by `order` (max over all strictly-earlier rows;
    * the first row gets Long.MinValue). Same range-partition shape as
    * [[withOrderedCumsum]] with max in place of sum: per-partition
    * exclusive-prefix-max window + a partition-count-sized broadcast
    * offsets table carrying each partition's predecessor max — never a
    * single-partition window. The primitive behind skyline/frontier
    * pruning (q194): "is any earlier-in-order row at least this high?"
    *
    * REQUIRES DISTINCT `order` KEYS (asserted at runtime; pass
    * `assertDistinct = false` to skip the check when distinctness is
    * proven upstream). With duplicate keys the result is
    * partition-placement-dependent: a tied row that range-partitions
    * into a LATER partition is counted by the broadcast offset as
    * strictly earlier, while a tied row in the SAME partition is
    * excluded by the rows-based exclusive frame — so ties see each
    * other or not depending on where the range splitter cuts. Callers
    * must collapse to one row per order key first (q194 does, via its
    * per-quantity-class groupBy); a rangeBetween frame would instead
    * have to exclude ALL equal-key rows, changing the semantics. */
  def withOrderedCummax(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      outCol: String,
      pidCol: String = "_graft_cm_pid",
      // a caller whose IMMEDIATE upstream proves distinctness (q194's
      // groupBy on the order key) passes false and skips the O(input)
      // check; new callers get the guard by default
      assertDistinct: Boolean = true): DataFrame = {
    import graft.Caches.Tracked
    val vCol = s"${pidCol}_v"
    val sorted = df
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(pidCol, spark_partition_id())
      .withColumn(vCol, value.cast(LongType))
      .persistTracked()
    // API-trap guard (r5 advice): enforce the distinct-keys contract at
    // runtime, not just in the docstring. Probes the already-PERSISTED
    // frame (r6 advice: the first guard grouped the raw input, re-running
    // an un-cached upstream lineage once per call), and does it WITHOUT a
    // groupBy — grouping the cached desc-range-partitioned frame trips
    // Spark 4.1's EnsureRequirements (SortOrder ClassCastException).
    // Instead it exploits the frame's own invariant: `sorted` is
    // range-partitioned AND sorted within partitions on the order keys
    // (equal keys land in one partition — RangePartitioning assigns by
    // key value), so any duplicate is ADJACENT; one shuffle-free
    // adjacent-equality scan over the cache finds it. Cost model: one
    // extra cache scan per call, zero shuffles, zero upstream recompute;
    // `assertDistinct = false` lets a caller that proved distinctness
    // upstream (q194's groupBy) skip even that.
    if (assertDistinct) {
      // strip SortOrder wrappers (col.desc) — projected keys must be bare
      val keys = order.map(org.apache.spark.sql.graftbridge.stripSortOrder)
      val hasDup = !sorted.select(keys: _*).rdd
        .mapPartitions { it =>
          var prev: org.apache.spark.sql.Row = null
          var found = false
          while (it.hasNext && !found) {
            val r = it.next()
            if (prev != null && r == prev) found = true
            prev = r
          }
          if (found) Iterator.single(true) else Iterator.empty
        }
        .isEmpty()
      require(!hasDup,
        "withOrderedCummax requires DISTINCT order keys: ties make the " +
          "exclusive prefix max partition-placement-dependent — collapse " +
          "to one row per order key first (q194 does)")
    }
    val offsets = sorted.groupBy(col(pidCol))
      .agg(max(col(vCol)).as("pmax"))
      .withColumn(
        "offset",
        coalesce(
          max(col("pmax")).over(
            Window.orderBy(col(pidCol))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(Long.MinValue)))
      .select(col(pidCol), col("offset"))
    sorted
      .withColumn(
        "_graft_maxin",
        coalesce(
          max(col(vCol)).over(
            Window.partitionBy(col(pidCol))
              .orderBy(order: _*)
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(Long.MinValue)))
      .join(broadcast(offsets), Seq(pidCol))
      .withColumn(outCol, greatest(col("offset"), col("_graft_maxin")))
      .drop(pidCol, vCol, "_graft_maxin", "offset")
  }

  /** Adds `outCol` = the PREVIOUS row's `value` in the total order given
    * by `order` (a global LAG(1); null for the global first row). Same
    * range-partitioned shape as [[withOrderedCumsum]]: per-partition lag
    * plus a partition-count-sized broadcast table carrying each
    * partition's LAST value, which fills the first row of the next
    * non-empty partition — never a single-partition window. `order` must
    * be a full tiebreak, and `value` must be NON-NULL (an interior null
    * would be indistinguishable from "first row of partition" to the
    * coalesce that bridges partitions). The primitive behind
    * value-spacing readouts (q340's Wasserstein integral: gap to the
    * previous distinct value). */
  def withOrderedLag(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      outCol: String,
      pidCol: String = "_graft_lg_pid"): DataFrame =
    withOrderedLags(df, order, Seq(value -> outCol), pidCol)

  /** Multi-column [[withOrderedLag]]: every lagged column in ONE range
    * shuffle + one shared-spec window pass (same economics as
    * [[withOrderedCumsums]]). The offsets table carries each
    * partition's last value per column (max_by over the order tuple —
    * an Aggregate, so the pid-ordered bridge window below stays on an
    * aggregate-bounded frame, the PlanShapeSpec structural contract);
    * lag over the PRESENT pids gives each partition the nearest
    * NON-EMPTY predecessor's last values. `order` must be bare
    * ascending columns (struct ordering is lexicographic by field). */
  def withOrderedLags(
      df: DataFrame,
      order: Seq[Column],
      values: Seq[(Column, String)],
      pidCol: String = "_graft_lg_pid"): DataFrame = {
    import graft.Caches.Tracked
    val vCols = values.indices.map(i => s"${pidCol}_v$i")
    val sorted0 = df
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(pidCol, spark_partition_id())
    val sorted = values.zip(vCols)
      .foldLeft(sorted0) { case (acc, ((v, _), vc)) =>
        acc.withColumn(vc, v.cast(LongType))
      }
      .persistTracked()
    val plasts = vCols.map(vc =>
      max_by(col(vc), struct(order: _*)).as(s"plast_$vc"))
    val bridgeW = Window.orderBy(col(pidCol))
    val offsets = vCols
      .foldLeft(sorted.groupBy(col(pidCol))
        .agg(plasts.head, plasts.tail: _*)) { (acc, vc) =>
        acc.withColumn(s"prev_$vc",
          lag(col(s"plast_$vc"), 1).over(bridgeW))
      }
      .select(col(pidCol) +: vCols.map(vc => col(s"prev_$vc")): _*)
    val lagW = Window.partitionBy(col(pidCol)).orderBy(order: _*)
    val withIn = vCols.foldLeft(sorted) { (acc, vc) =>
      acc.withColumn(s"in_$vc", lag(col(vc), 1).over(lagW))
    }
    val joined = withIn.join(broadcast(offsets), Seq(pidCol))
    values.zip(vCols)
      .foldLeft(joined) { case (acc, ((_, out), vc)) =>
        acc.withColumn(out,
          coalesce(col(s"in_$vc"), col(s"prev_$vc")))
      }
      .drop(pidCol +: vCols.flatMap(vc =>
        Seq(vc, s"in_$vc", s"prev_$vc")): _*)
  }

  /** The exact ANSI NTILE(k) bucket for a 1-based global rank `rk` out
    * of `n` rows (both Long columns): the first n mod k buckets hold
    * ⌈n/k⌉ rows, the rest ⌊n/k⌋ — pure integer arithmetic, identical to
    * every ANSI engine's native ntile. Pairs with [[withOrderedCumsum]]
    * (value = 1) to express a corpus-wide NTILE without the
    * single-partition sort the window form requires. */
  def ntileFromRank(rk: Column, n: Column, k: Int): Column = {
    // exact integer division: (a - a mod b) is exactly divisible, so the
    // double division is exact for any quotient < 2^53 (Column./ has no
    // integral form; `a div b` exists only as a SQL operator)
    def idiv(a: Column, b: Column): Column =
      ((a - a.mod(b)) / b).cast(LongType)
    val q = idiv(n, lit(k.toLong))
    val r = n.mod(lit(k.toLong))
    when(rk <= (q + 1) * r, idiv(rk - 1, q + 1) + 1)
      .otherwise(r + idiv(rk - 1 - (q + 1) * r, q) + 1)
  }

  /** Adds `outCol` = inclusive global running sum of `value` in the total
    * order md5(prefix:idCol) then idCol, plus the shuffle key as
    * `keyCol` for callers that sort by it downstream. The input is
    * range-repartitioned on that order. */
  def withGlobalCumsum(
      df: DataFrame,
      idCol: String,
      prefix: String,
      value: Column,
      outCol: String,
      keyCol: String = "_graft_k"): DataFrame =
    withOrderedCumsum(
      df.withColumn(
        keyCol, md5(concat(lit(s"$prefix:"), col(idCol).cast("string")))),
      Seq(col(keyCol), col(idCol)),
      value, outCol, pidCol = s"${keyCol}_pid")
}
