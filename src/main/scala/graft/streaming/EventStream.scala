package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DoubleType
import graft.Tables
import graft.Caches.Tracked
import graft.queries.{Det, Q}

/** Carried per-user state for streaming sessionization. */
final case class UserSessionState(lastTsMicros: Long, sessionId: Long)

/** One sessionized event emitted by the streaming sessionizer. */
final case class SessionizedEvent(
    user_id: Long, ts_micros: Long, session_id: Long)

/** Carried per-user state for streaming attribution: the last click's
  * microsecond timestamp (Long.MinValue = none seen yet). */
final case class LastClickState(lastClickUs: Long)

/** Carried per-user state for the transformWithState running totals. */
final case class RunState(n: Long, cents: Long)

/** One running-total row emitted per purchase by [[EventStream
  * .runningTotalsStream]]. */
final case class RunningTotal(
    user_id: Long, event_id: Long, run_n: Long, run_cents: Long)

/** The transformWithState face of q130's batch window cumsum — Spark 4's
  * arbitrary-state API (StatefulProcessor + typed ValueState over the
  * RocksDB state store): per user ONE 16-byte (count, cents) value is the
  * entire carried state; each micro-batch folds its (ts, event_id)-sorted
  * purchases through the same integer accumulation the batch window
  * performs. */
class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, Long), RunningTotal] {
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[RunState] = _

  override def init(
      outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[RunState](
      "run",
      org.apache.spark.sql.Encoders.product[RunState],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      user: Long,
      rows: Iterator[(Long, Long, Long, Long)],
      timers: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[RunningTotal] = {
    val sorted = rows.toArray.sortBy(r => (r._2, r._3))
    var s = if (st.exists()) st.get() else RunState(0L, 0L)
    val out = sorted.map { case (_, _, id, cents) =>
      s = RunState(s.n + 1, s.cents + cents)
      RunningTotal(user, id, s.n, s.cents)
    }
    st.update(s)
    out.iterator
  }
}

/** One attributed purchase emitted by the streaming attributor. */
final case class AttributedPurchase(
    user_id: Long, us: Long, event_id: Long, attributed: Boolean)

/** Structured Streaming surface.
  *
  * The reference has no streaming operators — its event-shaped
  * `user_events` table (reference: clickhouse-init/01-create-table.sql:31-41,
  * day-partitioned) and its pipe-streaming ingestion (README.md:253-274)
  * are the closest artifacts. The Spark-native extension: ONE transform
  * definition that runs identically as a batch DataFrame program and as a
  * Structured Streaming query (`readStream` → watermark → tumbling-window
  * aggregate → sink). Batch/stream parity is asserted by StreamingSpec;
  * the batch instantiation is oracle-checked by the driver as q31.
  */
object EventStream {

  /** Tumbling 1-hour windowed aggregate with a 10-minute watermark.
    * Takes EITHER a batch or a streaming events DataFrame (watermark is a
    * no-op in batch) — the definition is shared, which IS the correctness
    * argument for the streaming path: same Catalyst plan fragment, plus
    * state-store eviction bounded by the watermark at scale. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(
        window(col("ts"), "1 hour").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Det.dsum(col("value")).as("sum_value"))
      .select(
        col("w.start").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Windowed approximate-distinct via the portable md5-HLL sketch
    * ([[graft.functions.HllMd5]]) — the streaming face of the sketch
    * family. The register state is an order-independent MAX, so the
    * estimate is EXACTLY the same under any micro-batch split — which is
    * why the StreamingSpec parity test asserts strict equality where
    * GK/t-digest could only be tolerance-checked. Same transform serves
    * batch (q120's oracle leg) and readStream (the parity spec):
    * streaming == batch == DuckDB closes the loop end to end. Scale:
    * per-window state is 64 bytes of registers, watermark-bounded. */
  /** Stream-static dimension enrichment — the most common production
    * streaming join: each micro-batch inner-joins a BROADCAST static
    * dimension (type → category/weight), then aggregates hourly weighted
    * revenue per category. Unlike stream-stream joins (q53) this keeps
    * ZERO join state — the static side ships with every task and rows
    * enrich as they flow; only the downstream windowed aggregate holds
    * watermark-bounded state. Weighted revenue stays in exact BIGINT
    * (cents × integer weight). Shared by batch and readStream — the
    * parity spec's correctness argument. */
  def enrichedRevenue(events: DataFrame, typeDim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(typeDim), Seq("event_type"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("category"))
      .agg(
        count(lit(1)).as("n"),
        sum(Det.cents(col("value")) * col("weight")).as("weighted_cents"))
      .select(
        col("w.start").as("hour_start"),
        col("category"), col("n"), col("weighted_cents"))

  def sketchedUniques(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(
        window(col("ts"), "1 hour").as("w"),
        col("event_type"))
      .agg(
        graft.functions.HllMd5.sketch(
          col("user_id").cast(org.apache.spark.sql.types.StringType))
          .as("uniq_est"))
      .select(
        col("w.start").as("hour_start"), col("event_type"),
        col("uniq_est"))

  val q120 = Q(
    "q120_stream_sketch",
    (s, d) =>
      sketchedUniques(Tables.load(s, d, "events"))
        .orderBy(col("hour_start"), col("event_type")),
    Some("""
      WITH vals AS (
        SELECT DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP))
                 AS hour_start,
               event_type, CAST(user_id AS VARCHAR) AS sv
        FROM events
      ), h AS (
        SELECT hour_start, event_type, md5(sv) AS hx FROM vals
      ), rr AS (
        SELECT hour_start, event_type,
          ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16 +
           (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) % 64 AS reg,
          16 - length(ltrim(substr(hx, 3, 16), '0')) AS z,
          CASE WHEN length(ltrim(substr(hx, 3, 16), '0')) = 0 THEN 1
               ELSE strpos('0123456789abcdef',
                           substr(ltrim(substr(hx, 3, 16), '0'), 1, 1)) - 1
          END AS v
        FROM h
      ), ranked AS (
        SELECT hour_start, event_type, reg,
          CASE WHEN z = 16 THEN 65
               ELSE 4 * z + (CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                                  WHEN v >= 2 THEN 2 ELSE 3 END) + 1
          END AS rank
        FROM rr
      ), regs AS (
        SELECT hour_start, event_type, reg, max(rank) AS mr
        FROM ranked GROUP BY hour_start, event_type, reg
      ), grps AS (
        SELECT DISTINCT hour_start, event_type FROM regs
      ), allregs AS (
        -- densified like q61: HllMd5.eval folds ALL 64 registers in
        -- register order (zero registers contribute 1.0 interleaved, not
        -- as a trailing correction), and double addition is not
        -- associative — the replay must add in the same order
        SELECT g.hour_start, g.event_type, j.j, coalesce(r.mr, 0) AS mr
        FROM grps g CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
        LEFT JOIN regs r ON r.hour_start = g.hour_start
          AND r.event_type = g.event_type AND r.reg = j.j
      )
      SELECT hour_start, event_type,
        0.7213 / (1 + 1.079 / 64) * 64 * 64 /
          list_reduce(list_transform(list(mr ORDER BY j),
            x -> pow(2.0, -x)), (a, b) -> a + b) AS uniq_est
      FROM allregs GROUP BY hour_start, event_type
      ORDER BY hour_start, event_type"""))

  /** STREAMING quantile sketch state: per-hour decimal-bucket counts of
    * value cents (q119's bucket derivation). Streaming-safe because the
    * state is a keyed SUM under a watermark — no ranking window runs in
    * the stream; the quantile READ-OFF (Core.qsReadoff) happens
    * downstream over the KB-sized bucket table, which is exactly how
    * production observability works: the stream maintains sketches,
    * dashboards read them. Bucket counts are order-independent, so the
    * stream==batch parity is STRICT (the q120 argument, for quantiles).
    */
  def valueBuckets(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .withColumn("c", graft.queries.Det.cents(col("value")))
      .withColumn("g", expr("greatest(length(cast(c AS STRING)) - 3, 0)"))
      .withColumn(
        "scale", expr("cast(concat('1', repeat('0', g)) AS BIGINT)"))
      .withColumn("lo", expr("(c div scale) * scale"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("lo"), col("scale"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("w.start").as("hour_start"), col("lo"), col("scale"),
        col("cnt"))

  /** q123: the batch leg of the streaming quantile sketch — per-hour
    * p25/p50/p75/p95 of event value read off the bucket state. The
    * oracle replays buckets + read-off directly in DuckDB; StreamingSpec
    * proves the bucket state is identical when maintained by Structured
    * Streaming over micro-batches. */
  val q123 = Q(
    "q123_stream_quantiles",
    (s, d) =>
      graft.queries.Core.qsReadoff(
        valueBuckets(Tables.load(s, d, "events"))
          .withColumnRenamed("hour_start", "grp"))
        .select(
          col("grp").as("hour_start"), col("n"), col("sk_p25"),
          col("sk_p50"), col("sk_p75"), col("sk_p95"))
        .orderBy(col("hour_start")),
    Some(s"""
      WITH c AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS grp,
               ${graft.queries.Det.centsSql("value")} AS c
        FROM events
      ), bk AS (
        SELECT grp, (c // scale) * scale AS lo, scale, count(*) AS cnt
        FROM (
          SELECT grp, c,
                 CAST('1' || repeat('0', CAST(greatest(
                   length(CAST(c AS VARCHAR)) - 3, 0) AS INTEGER))
                   AS BIGINT) AS scale
          FROM c)
        GROUP BY 1, 2, 3
      ), cum AS (
        SELECT grp, lo, scale, cnt,
          sum(cnt) OVER (PARTITION BY grp ORDER BY lo
                         ROWS UNBOUNDED PRECEDING) AS cum,
          sum(cnt) OVER (PARTITION BY grp) AS n,
          lo + scale // 2 AS mid
        FROM bk
      )
      SELECT grp AS hour_start, CAST(max(n) AS BIGINT) AS n,
        min(CASE WHEN cum >= (n * 25 + 99) // 100 THEN mid END) AS sk_p25,
        min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN mid END) AS sk_p50,
        min(CASE WHEN cum >= (n * 75 + 99) // 100 THEN mid END) AS sk_p75,
        min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN mid END) AS sk_p95
      FROM cum GROUP BY grp
      ORDER BY hour_start"""))

  /** Per-user ordered event-gap analysis — the streaming-state analog
    * (sessionization precursor): for each user, time since previous event
    * and a session-break flag at 30 min. Batch implementation via window
    * functions; the streaming twin would be mapGroupsWithState with the
    * same gap rule. */
  def eventGaps(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .select(
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      // integer-microsecond gap: engines disagree on fractional-second
      // date_diff truncation, exact micros never do
      .withColumn(
        "gap_us",
        unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .withColumn(
        "new_session",
        coalesce(col("gap_us") > lit(1800000000L), lit(true)))
  }

  /** (user_id, session_id, t_start, t_end, n_events) per 30-min-gap
    * session — the ONE session-bounds derivation behind q33, q112, and
    * their specs (a gap-rule change must not be able to diverge per
    * consumer). The session_id running sum pins a ROWS frame: the
    * default RANGE frame would sum tied-timestamp peers together and
    * diverge from the oracles' ROWS UNBOUNDED PRECEDING. */
  def sessionBounds(events: DataFrame): DataFrame =
    sessionizedEvents(events)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("t_start"),
        max(col("ts")).as("t_end"))

  /** Every event with its 30-min-gap session_id attached — the per-event
    * face of the shared sessionization (q129 paths need the events, not
    * just the bounds; [[sessionBounds]] is the aggregate over this). */
  def sessionizedEvents(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eventGaps(events)
      .withColumn(
        "session_id",
        sum(col("new_session").cast("long")).over(w))
  }

  /** Streaming sessionization with EXPLICIT carried state — the
    * KeyValueGroupedDataset.flatMapGroupsWithState face of q33's batch
    * running-sum sessionizer. Per micro-batch each user's rows are
    * event-time sorted, the 30-minute gap rule runs against the state
    * carried from previous batches (last timestamp + current session id),
    * and the state is written back — bounded per-key state, the shape
    * that scales to an unbounded stream. Matches q33 exactly when
    * micro-batches arrive in event-time order (the file-source test
    * feeds them that way); out-of-order arrival is the documented
    * trade-off vs the batch sort. */
  def sessionizeStream(events: DataFrame): Dataset[SessionizedEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("tsm"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserSessionState, SessionizedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)],
         state: GroupState[UserSessionState]) =>
          val sorted = rows.map(_._2).toArray.sorted
          var st = state.getOption.getOrElse(UserSessionState(Long.MinValue, 0L))
          val out = sorted.map { ts =>
            val newSession =
              st.lastTsMicros == Long.MinValue ||
                ts - st.lastTsMicros > 1800000000L
            st = UserSessionState(
              ts, if (newSession) st.sessionId + 1 else st.sessionId)
            SessionizedEvent(user, ts, st.sessionId)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming exact deduplication — the streaming face of the q20 batch
    * hash-dedup: duplicates arriving within the watermark horizon are
    * dropped with bounded state (keys older than the watermark are
    * evicted — the property that makes dedup feasible on an unbounded
    * stream at scale). */
  def dedupeEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: view events joined to the same user's
    * click events arriving within 10 minutes after the view. Works
    * identically on batch and streaming inputs; on streams, the
    * watermarks plus the event-time range condition are what let Spark
    * BOUND the join state (views older than watermark+10min can never
    * match a future click and are evicted) — the property that makes a
    * stream-stream join runnable forever at scale. */
  def clickThrough(views: DataFrame, clicks: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val v = views
      .withWatermark("ts", "10 minutes")
      .select(
        col("user_id"), col("ts").as("vts"), col("event_id").as("view_id"))
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user_id"), col("ts").as("cts"))
    v.join(
      c,
      col("user_id") === col("c_user_id") &&
        col("cts") >= col("vts") &&
        col("cts") <= col("vts") + expr("INTERVAL 10 MINUTES"),
      joinType)
  }

  /** Batch face of the stream-stream join, oracle-checked: click-through
    * pairs per user. */
  val q53 = Q(
    "q53_stream_join",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      clickThrough(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT v.user_id, count(*) AS n_pairs
      FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS vts FROM events
            WHERE event_type = 'view') v
      JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts FROM events
            WHERE event_type = 'click') c
        ON v.user_id = c.user_id
       AND c.cts >= v.vts AND c.cts <= v.vts + INTERVAL 10 MINUTE
      GROUP BY v.user_id
      ORDER BY v.user_id"""))

  /** q288: STREAM-STREAM LEFT OUTER JOIN — the abandoned-view readout
    * (views that never converted within their 10-minute horizon) as the
    * outer face of q53's interval join. On streams this is the harder
    * semantics: an unmatched view can only be emitted (with NULL click
    * columns) once the GLOBAL watermark proves no future click can still
    * land in its window — i.e. NULL-emission is watermark-clocked state
    * eviction, exactly how Spark bounds outer-join state on an unbounded
    * stream. The batch face below is the oracle-checked registry entry;
    * StreamingSpec proves batch==stream INCLUDING the null rows, with a
    * watermark-advancing sentinel standing in for the ever-arriving
    * traffic a production stream has. Scale: state is O(rows inside the
    * watermark horizon) per side — the 100 TB/day shape survives because
    * eviction, not retention, is the default. */
  val q288 = Q(
    "q288_stream_outer_join",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      clickThrough(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), "left_outer")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("cts")).as("n_matched"),
          sum(when(col("cts").isNull, 1L).otherwise(0L))
            .as("n_orphan_views"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT v.user_id, count(*) AS n_rows,
             count(c.cts) AS n_matched,
             CAST(sum(CASE WHEN c.cts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphan_views
      FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS vts FROM events
            WHERE event_type = 'view') v
      LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts FROM events
            WHERE event_type = 'click') c
        ON v.user_id = c.user_id
       AND c.cts >= v.vts AND c.cts <= v.vts + INTERVAL 10 MINUTE
      GROUP BY v.user_id
      ORDER BY v.user_id"""))

  val q31 = Q(
    "q31_stream_window",
    (s, d) =>
      windowedCounts(Tables.load(s, d, "events"))
        .orderBy(col("hour_start"), col("event_type")),
    Some(s"""
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             event_type, count(*) AS n,
             ${Det.dsumSql("value")} AS sum_value
      FROM events
      GROUP BY hour_start, event_type
      ORDER BY hour_start, event_type"""))

  /** Sessionization rollup over the gap analysis: sessions per user via
    * running sum of session breaks, then session length stats. */
  val q33 = Q(
    "q33_sessionize",
    (s, d) => {
      sessionBounds(Tables.load(s, d, "events"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN true
                    WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000 THEN true
                    ELSE false END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts,
               sum(CASE WHEN new_session THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
      ), per_session AS (
        SELECT user_id, session_id, count(*) AS n_events
        FROM numbered GROUP BY user_id, session_id
      )
      SELECT user_id, count(*) AS n_sessions,
             max(n_events) AS max_session_events
      FROM per_session
      GROUP BY user_id
      ORDER BY user_id"""))

  /** Hopping (sliding) windows: 1-hour windows every 30 minutes — each
    * event lands in exactly two windows; Spark's window() explodes the
    * assignment natively, the oracle unions the two shifted truncations. */
  val q43 = Q(
    "q43_hopping_window",
    (s, d) =>
      Tables.load(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("win_start"), col("n"), col("sum_value"))
        .orderBy(col("win_start")),
    Some(s"""
      WITH assigned AS (
        SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                 AS win_start, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                 - INTERVAL '30 minutes' AS win_start, value
        FROM events
      )
      SELECT win_start, count(*) AS n,
             ${Det.dsumSql("value")} AS sum_value
      FROM assigned
      GROUP BY win_start
      ORDER BY win_start"""))

  /** Built-in session windows (session_window, 30-minute gap) — must
    * agree with the manual running-sum sessionizer (q33) on sessions per
    * user, closing the loop between the three sessionization faces:
    * manual window algebra (q33), explicit streaming state
    * (sessionizeStream), and the engine primitive (this). Boundary:
    * session_window's merge end is INCLUSIVE (a gap of exactly 30:00
    * merges — the NewOperatorsSpec q191 probe pins it), so the replay's
    * split rule is strict `>`, identical to q33's. */
  val q44 = Q(
    "q44_session_window",
    (s, d) =>
      Tables.load(s, d, "events")
        .groupBy(
          col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"))
        .orderBy(col("user_id")),
    Some("""
      WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN true
                    WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000 THEN true
                    ELSE false END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts,
               sum(CASE WHEN new_session THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
      ), per_session AS (
        SELECT user_id, session_id, count(*) AS n_events
        FROM numbered GROUP BY user_id, session_id
      )
      SELECT user_id, count(*) AS n_sessions,
             max(n_events) AS max_session_events
      FROM per_session
      GROUP BY user_id
      ORDER BY user_id"""))

  /** Ordered conversion funnel (the ClickHouse windowFunnel capability,
    * re-expressed relationally): per user, the first view, the first
    * click strictly after it, the first purchase strictly after that —
    * each stage a keyed min-aggregate joined to the previous stage's
    * timestamps, so the sequence constraint is a per-row comparison, not
    * a per-user event sort. Scale: three filtered aggregates shuffling
    * on user_id (AQE broadcasts the shrinking stage frames); no
    * collect_list of a user's history anywhere — state per user is one
    * timestamp per stage. */
  val q108 = Q(
    "q108_funnel",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      // each stage frame feeds BOTH the next stage's join and its own
      // funnel count — cache them (per-user, one row each) or every
      // downstream consumer re-embeds the whole upstream chain and the
      // events scan runs ~6 times instead of 3
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        .persistTracked()
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        .persistTracked()
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_users"))
        .select(lit("1_view").as("stage"), col("n_users"))
        .unionByName(s2.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), col("n_users")))
        .unionByName(s3.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), col("n_users")))
        .orderBy(col("stage"))
    },
    Some("""
      WITH s1 AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
      ), s2 AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t1
        GROUP BY e.user_id
      ), s3 AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t2
        GROUP BY e.user_id
      )
      SELECT '1_view' AS stage, count(*) AS n_users FROM s1
      UNION ALL SELECT '2_click', count(*) FROM s2
      UNION ALL SELECT '3_purchase', count(*) FROM s3
      ORDER BY stage"""))

  /** Cohort retention (the ClickHouse retention capability): users are
    * cohorted by first-activity day, and each (cohort week, week offset)
    * cell counts the distinct users active that many weeks after their
    * cohort start. All derivations are integer day arithmetic (datediff
    * div 7) — no doubles anywhere. Scale: one aggregate for the cohort
    * anchors, one join back on user_id (size-conditional broadcast of
    * the per-user anchor frame), one distinct-count shuffle keyed by the
    * (cohort, offset) cell.
    *
    * The cohort epoch is the DATA minimum (min day0, a 1-row broadcast),
    * not a hard-coded date: both datediffs are then provably ≥ 0, so
    * Spark's `div` (truncates toward zero) and DuckDB's `//` (floors)
    * agree — with a fixed anchor, any event predating it would silently
    * diverge between engines (round-3 advice). */
  val q109 = Q(
    "q109_retention",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val anchors = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("day0"))
      val epoch = anchors.agg(min(col("day0")).as("epoch"))
      ev.join(anchors, Seq("user_id"))
        .crossJoin(broadcast(epoch))
        .select(
          col("user_id"),
          expr("datediff(day0, epoch) div 7").as("cohort_week"),
          expr("datediff(day, day0) div 7").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day FROM events
      ), anchors AS (
        SELECT user_id, min(day) AS day0 FROM ev GROUP BY user_id
      ), epoch AS (
        SELECT min(day0) AS epoch FROM anchors
      )
      SELECT date_diff('day', ep.epoch, a.day0) // 7
               AS cohort_week,
             date_diff('day', a.day0, e.day) // 7 AS week_offset,
             count(DISTINCT e.user_id) AS n_users
      FROM ev e JOIN anchors a ON a.user_id = e.user_id, epoch ep
      GROUP BY cohort_week, week_offset
      ORDER BY cohort_week, week_offset"""))

  /** Peak session concurrency per day — the sweep-line interval-overlap
    * maximum (how many sessions are open at once), the capacity question
    * behind any serving/ingest sizing. Sessions come from the same
    * 30-min-gap rule as q33 (shared sessionBounds); each contributes a
    * +1 at its start and a -1 at its end, and the running sum of deltas
    * in (ts, -delta, user, session) total order IS the live-session
    * count (starts sort before ends at the same instant, so zero-length
    * sessions still register). The per-day peak is taken over the
    * START instants of that day — concurrency only increases at a +1,
    * so this is the maximum reached DURING the day; a day where no
    * session starts (only carried sessions end) has no start instant
    * and is absent from the report, by definition. The running sum
    * rides GlobalOrder.withOrderedCumsum — range partition +
    * per-partition ROWS cumsum + broadcast offsets — so there is NO
    * corpus-wide single-partition window at any scale; the oracle
    * replays the sweep with one ordinary window (fine at oracle
    * scale). */
  val q112 = Q(
    "q112_peak_concurrency",
    (s, d) => {
      val sess = sessionBounds(Tables.load(s, d, "events"))
      val pts = sess
        .select(
          col("t_start").as("ts"), lit(1L).as("delta"),
          col("user_id"), col("session_id"))
        .unionByName(sess.select(
          col("t_end").as("ts"), lit(-1L).as("delta"),
          col("user_id"), col("session_id")))
        .withColumn("nd", -col("delta"))
      graft.operators.GlobalOrder
        .withOrderedCumsum(
          pts,
          Seq(col("ts"), col("nd"), col("user_id"), col("session_id")),
          col("delta"), "active")
        .filter(col("delta") === 1L)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(max(col("active")).as("peak"))
        .orderBy(col("day"))
    },
    Some("""
      WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN true
                    WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000 THEN true
                    ELSE false END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts,
               sum(CASE WHEN new_session THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
      ), sess AS (
        SELECT user_id, session_id,
               min(ts) AS t_start, max(ts) AS t_end
        FROM numbered GROUP BY user_id, session_id
      ), pts AS (
        SELECT t_start AS ts, CAST(1 AS BIGINT) AS delta,
               user_id, session_id
        FROM sess
        UNION ALL
        SELECT t_end, CAST(-1 AS BIGINT), user_id, session_id FROM sess
      ), run AS (
        SELECT ts, delta,
               CAST(sum(delta) OVER (
                 ORDER BY ts, -delta, user_id, session_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS active
        FROM pts
      )
      SELECT CAST(ts AS DATE) AS day, max(active) AS peak
      FROM run WHERE delta = 1 GROUP BY day ORDER BY day"""))

  /** q124: time-series gap fill — the ClickHouse `ORDER BY … WITH FILL` /
    * monitoring-engine resample capability (reference exposes the
    * day-partitioned event table, clickhouse-init/01-create-table.sql:31-41,
    * but no fill operator). Per-user DAILY series of the sparse `error`
    * events, densified to every calendar day between the user's first and
    * last error: missing days get n_events=0 and the value carried forward
    * from the last observed day (LOCF). Scale: the spine is
    * `sequence(d0, d1, 1 day)` exploded per key — partition-parallel, array
    * length bounded by the calendar span, never by corpus size; the LOCF
    * window partitions by user over DAYS, so its partitions are
    * calendar-bounded too (no unbounded window anywhere). Determinism: the
    * filled value is one day's exact-decimal sum (no cross-row double
    * arithmetic), and day-one of every series is observed, so the LOCF is
    * total. */
  val q124 = Q(
    "q124_gapfill",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.load(s, d, "events")
        .filter(col("event_type") === "error")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(
          count(lit(1)).as("n_events"),
          Det.dsum(col("value")).as("day_value"))
      val spine = daily
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(
          col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val locf = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine
        .join(daily, Seq("user_id", "day"), "left")
        .select(
          col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("day_value"), ignoreNulls = true).over(locf)
            .as("value_locf"),
          when(col("n_events").isNull, lit(1)).otherwise(lit(0))
            .as("filled"))
        .orderBy(col("user_id"), col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        FROM events WHERE event_type = 'error'
        GROUP BY user_id, day
      ), bounds AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1
        FROM daily GROUP BY user_id
      ), spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                           CAST(d1 AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
      )
      SELECT s.user_id, s.day,
             CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
             last_value(d.day_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS value_locf,
             CAST(CASE WHEN d.n_events IS NULL THEN 1 ELSE 0 END AS INTEGER)
               AS filled
      FROM spine s LEFT JOIN daily d
        ON s.user_id = d.user_id AND s.day = d.day
      ORDER BY s.user_id, s.day"""))

  /** q125: time-weighted average — the monitoring/time-series engine
    * `time_weight` / `avgWeighted` capability: each observation of `value`
    * holds until the next observation, so its weight is the interval length
    * in microseconds (the last observation per user carries no interval and
    * is excluded — standard left-closed convention). Cross-engine exact:
    * weights are integer microseconds (LEAD over a (ts, event_id)-total
    * order), values integer cents, so both weighted sum and total span are
    * exact BIGINT sums (per-user span ≤ fixture range ⇒ products < 2^53);
    * the only floating arithmetic is the SAME two IEEE divisions of
    * identical integer operands in both engines. Scale: one per-user window
    * (the q33 sessionize shape) + one hash aggregate. */
  val q125 = Q(
    "q125_time_weighted",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.load(s, d, "events")
        .select(
          col("user_id"), col("ts"), col("event_id"),
          Det.cents(col("value")).as("cents"),
          unix_micros(col("ts")).as("us"))
        .withColumn("dt_us", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dt_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("dt_us")).as("span_us"),
          (sum(col("cents") * col("dt_us")).cast(DoubleType) /
            sum(col("dt_us")).cast(DoubleType) / lit(100.0))
            .as("twa_value"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH t AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
      ), d AS (
        SELECT user_id, cents, us,
               lead(us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 - us AS dt_us
        FROM t
      )
      SELECT user_id, count(*) AS n_intervals,
             CAST(sum(dt_us) AS BIGINT) AS span_us,
             CAST(sum(cents * dt_us) AS DOUBLE) / CAST(sum(dt_us) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS twa_value
      FROM d WHERE dt_us IS NOT NULL
      GROUP BY user_id ORDER BY user_id"""))

  /** q126: last-touch attribution — completes the ClickHouse-style
    * behavioral-analytics triple (funnel q108, retention q109): each
    * purchase is attributed to the SAME user's most recent click strictly
    * before it (total order (ts, event_id)) within a 7-day lookback, then
    * rolled up per day. One per-user window (the q33 shape) + one hash
    * aggregate; the lookback test is pure integer microseconds, and
    * attributed revenue is an exact-decimal conditional sum — no
    * cross-engine float hazards. */
  /** The 7-day attribution lookback in microseconds. */
  val attributionLookbackUs: Long = 7L * 24 * 3600 * 1000000L

  /** Per-purchase last-touch attribution — the ONE derivation behind
    * batch q126 and the streaming [[attributeStream]] parity: each
    * purchase row with its user's most recent strictly-earlier click
    * (total (ts, event_id) order) and the 7-day-lookback verdict. */
  def attributedPurchases(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
      .withColumn(
        "last_click_us",
        last(
          when(col("event_type") === "click", col("us")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn(
        "attributed",
        col("last_click_us").isNotNull &&
          col("us") - col("last_click_us") <= lit(attributionLookbackUs))
  }

  /** Streaming last-touch attribution — the flatMapGroupsWithState face
    * of [[attributedPurchases]]: ONE 8-byte value per user (the last
    * click's microsecond timestamp) is the entire carried state, so the
    * state store stays user-count-sized forever. Per micro-batch each
    * user's rows are (ts, event_id)-sorted and folded through the same
    * lookback rule; matches batch exactly when micro-batches arrive in
    * event-time order (the same contract as [[sessionizeStream]]). */
  def attributeStream(events: DataFrame): Dataset[AttributedPurchase] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id").cast("long"), unix_micros(col("ts")).as("us"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastClickState, AttributedPurchase](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[LastClickState]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(LastClickState(Long.MinValue))
          val out = Array.newBuilder[AttributedPurchase]
          sorted.foreach { case (_, us, id, typ) =>
            if (typ == "click") st = LastClickState(us)
            else out += AttributedPurchase(
              user, us, id,
              st.lastClickUs != Long.MinValue &&
                us - st.lastClickUs <= attributionLookbackUs)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Leibniz determinant expansion as SQL text over named integer count
    * columns — generated ONCE and shared verbatim by the Spark
    * expression and the DuckDB oracle; the only parameter is the
    * wide-integer cast each engine uses for exact products (HUGEINT /
    * DECIMAL(38,0)). Entry magnitudes are transition counts (~1e5 at
    * sf0.1), so 5-factor products stay ~1e25-1e27 — far inside both
    * engines' 38-digit exact range; widen the cast before feeding
    * billion-row transition tables. */
  private def leibnizSql(
      m: IndexedSeq[IndexedSeq[String]], cast: String): String = {
    val n = m.length
    val terms = (0 until n).permutations.map { p =>
      val inversions = (for {
        i <- 0 until n; j <- i + 1 until n if p(i) > p(j)
      } yield 1).size
      val sign = if (inversions % 2 == 0) "+" else "-"
      val prod = (0 until n).map { i =>
        val f = m(i)(p(i))
        if (i == 0) s"CAST($f AS $cast)" else f
      }.mkString(" * ")
      s"$sign ($prod)"
    }
    "(0 " + terms.mkString(" ") + ")"
  }

  private val MarkovStates =
    IndexedSeq("START", "click", "error", "signup", "view")

  /** det of the absorption system (I·n − T) restricted to `keep` rows/
    * cols; with subRhs the START column is replaced by the CONV counts —
    * Cramer's numerator for x_START. */
  private def markovDetSql(
      keep: IndexedSeq[Int], subRhs: Boolean, cast: String): String = {
    val m = keep.map { i =>
      keep.zipWithIndex.map { case (j, jj) =>
        if (subRhs && jj == 0) s"c_${MarkovStates(i)}"
        else if (i == j)
          s"(n_${MarkovStates(i)} - t_${MarkovStates(i)}_${MarkovStates(j)})"
        else s"(0 - t_${MarkovStates(i)}_${MarkovStates(j)})"
      }
    }
    leibnizSql(m, cast)
  }

  private val MarkovChannels = IndexedSeq("click", "error", "signup", "view")

  /** The dets → probs → effects column lists, shared by both engines
    * (cast is the only difference); one "expr AS alias" per element so
    * the Spark side can selectExpr them and the oracle can join them
    * into CTE text. */
  private def markovDetCols(cast: String): Seq[String] =
    Seq(
      s"${markovDetSql(0 to 4, subRhs = false, cast)} AS det_a",
      s"${markovDetSql(0 to 4, subRhs = true, cast)} AS det_x") ++
      MarkovChannels.flatMap { ch =>
        val keep = IndexedSeq(0) ++
          (1 to 4).filter(i => MarkovStates(i) != ch)
        Seq(
          s"${markovDetSql(keep, subRhs = false, cast)} AS det_a_$ch",
          s"${markovDetSql(keep, subRhs = true, cast)} AS det_x_$ch")
      }

  /** One spec, two conversion dialects: Spark's DECIMAL(38,0)→DOUBLE
    * cast is correctly rounded, DuckDB's HUGEINT cast is NOT above 2⁶³
    * (Det.hugeDoubleSql) — so the sharable part is the (num, den, alias)
    * triple, and each engine renders its own correctly-rounded cast. */
  private val markovProbSpecs: Seq[(String, String, String)] =
    ("det_x", "det_a", "base_p") +:
      MarkovChannels.map(ch => (s"det_x_$ch", s"det_a_$ch", s"p_$ch"))
  private def markovProbCols(toDouble: String => String): Seq[String] =
    markovProbSpecs.map { case (x, a, out) =>
      s"${toDouble(x)} / ${toDouble(a)} AS $out" }

  private val markovEffCols: Seq[String] =
    Seq("base_p") ++ MarkovChannels.map(ch => s"p_$ch") ++
      MarkovChannels.map(ch => s"1.0 - p_$ch / base_p AS e_$ch")

  private val markovShareDen: String =
    MarkovChannels.map(ch => s"e_$ch").mkString(" + ")

  /** q292: MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014) — the
    * data-driven alternative to q126's last-click rule: model journeys
    * as a first-order Markov chain over session event types (START →
    * … → CONV on first purchase, → NULL on session end), then credit
    * each channel by how much the chain's conversion probability DROPS
    * when that channel is removed (removed = its visits become losses).
    * Absorption probabilities are solved EXACTLY: the linear system
    * (diag(n) − T)·x = c has integer coefficients, so x_START is a
    * ratio of integer determinants (Cramer), expanded via a generated
    * Leibniz sum both engines evaluate verbatim over wide-exact
    * integers — no iteration, no tolerance, bit-identical doubles from
    * the two final divisions. Scale: the corpus collapses to a ≤7×7
    * transition-count table in one sessionized pass; the solve is O(1).
    * Removing a channel can only close paths, so removed_p ≤ base_p
    * structurally — the spec asserts it and replays the whole solve
    * with driver-side BigInt cofactors. */
  /** The 1-row transition-count table feeding q292's exact solve; also
    * collected by the spec's BigInt-cofactor replay. */
  private[graft] def markovCounts(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"), col("session_id"))
    val sess = sessionizedEvents(Tables.load(s, d, "events"))
      .withColumn("pos", row_number().over(wOrd))
    // r9: first-conversion position as a window over the SAME session
    // partitioning instead of a groupBy + join-back — one shuffle and
    // one join fewer, same null-when-no-purchase semantics
    val kept = sess
      .withColumn("conv_pos",
        min(when(col("event_type") === "purchase", col("pos"))).over(wAll))
      .filter(col("conv_pos").isNull || col("pos") <= col("conv_pos"))
      .withColumn("state",
        when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")))
    val steps = kept
      .withColumn("from_s",
        coalesce(lag(col("state"), 1).over(wOrd), lit("START")))
      .withColumn("last_pos", max(col("pos")).over(wAll))
    // r10 (guide §2.4): the unionAll of two selections of `steps` ran
    // the whole sessionize + window pipeline TWICE (steps is not
    // persisted — the executed plan carried every window doubled); one
    // conditional explode emits the step transition plus, on a
    // non-converting session's last event, its →NULL transition, in a
    // single pass over the same rows
    val transitions = steps.select(explode(
        when(col("pos") === col("last_pos") && col("state") =!= "CONV",
          array(
            struct(col("from_s").as("from_s"), col("state").as("to_s")),
            struct(col("state").as("from_s"), lit("NULL").as("to_s"))))
          .otherwise(array(
            struct(col("from_s").as("from_s"),
              col("state").as("to_s"))))).as("tr"))
      .select(col("tr.from_s").as("from_s"), col("tr.to_s").as("to_s"))
    val aggs = MarkovStates.flatMap { i =>
      Seq(
        sum(when(col("from_s") === i, 1L).otherwise(0L)).as(s"n_$i"),
        sum(when(col("from_s") === i && col("to_s") === "CONV", 1L)
          .otherwise(0L)).as(s"c_$i")) ++
        MarkovStates.map(j =>
          sum(when(col("from_s") === i && col("to_s") === j, 1L)
            .otherwise(0L)).as(s"t_${i}_$j"))
    }
    transitions.agg(aggs.head, aggs.tail: _*)
  }

  val q292 = Q(
    "q292_removal_effect",
    (s, d) => {
      val eff = markovCounts(s, d)
        .selectExpr(markovDetCols("DECIMAL(38,0)"): _*)
        .selectExpr(markovProbCols(e => s"CAST($e AS DOUBLE)"): _*)
        .selectExpr(markovEffCols: _*)
        .persistTracked()
      MarkovChannels.map { ch =>
        eff.selectExpr(
          s"'$ch' AS channel", "base_p", s"p_$ch AS removed_p",
          s"e_$ch AS removal_effect",
          s"e_$ch / ($markovShareDen) AS attribution_share")
      }.reduce(_.unionAll(_)).orderBy(col("channel"))
    },
    Some(s"""
      WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN true
                    WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000 THEN true
                    ELSE false END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               sum(CASE WHEN new_session THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
      ), pos AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                     ORDER BY ts, event_id) AS pos
        FROM numbered
      ), conv AS (
        SELECT user_id, session_id, min(pos) AS conv_pos
        FROM pos WHERE event_type = 'purchase' GROUP BY 1, 2
      ), kept AS (
        SELECT p.*, c.conv_pos,
               CASE WHEN p.event_type = 'purchase' THEN 'CONV'
                    ELSE p.event_type END AS state
        FROM pos p LEFT JOIN conv c USING (user_id, session_id)
        WHERE c.conv_pos IS NULL OR p.pos <= c.conv_pos
      ), steps AS (
        SELECT *,
               coalesce(lag(state) OVER (PARTITION BY user_id, session_id
                                         ORDER BY ts, event_id), 'START')
                 AS from_s,
               max(pos) OVER (PARTITION BY user_id, session_id) AS last_pos
        FROM kept
      ), transitions AS (
        SELECT from_s, state AS to_s FROM steps
        UNION ALL
        SELECT state, 'NULL' FROM steps
        WHERE pos = last_pos AND state <> 'CONV'
      ), counts AS (
        SELECT
        ${MarkovStates.flatMap { i =>
          Seq(
            s"CAST(sum(CASE WHEN from_s = '$i' THEN 1 ELSE 0 END) " +
              s"AS BIGINT) AS n_$i",
            s"CAST(sum(CASE WHEN from_s = '$i' AND to_s = 'CONV' THEN 1 " +
              s"ELSE 0 END) AS BIGINT) AS c_$i") ++
            MarkovStates.map(j =>
              s"CAST(sum(CASE WHEN from_s = '$i' AND to_s = '$j' THEN 1 " +
                s"ELSE 0 END) AS BIGINT) AS t_${i}_$j")
        }.mkString(",\n        ")}
        FROM transitions
      ), dets AS (
        SELECT
        ${markovDetCols("HUGEINT").mkString(",\n        ")}
        FROM counts
      ), probs AS (
        SELECT
        ${markovProbCols(graft.queries.Det.hugeDoubleSql)
          .mkString(",\n        ")}
        FROM dets
      ), eff AS (
        SELECT
        ${markovEffCols.mkString(",\n        ")}
        FROM probs
      )
      ${MarkovChannels.map(ch =>
        s"""SELECT '$ch' AS channel, base_p, p_$ch AS removed_p,
             e_$ch AS removal_effect,
             e_$ch / ($markovShareDen) AS attribution_share
           FROM eff""").mkString("\n      UNION ALL\n      ")}
      ORDER BY channel"""))

  val q126 = Q(
    "q126_attribution",
    (s, d) => {
      attributedPurchases(Tables.load(s, d, "events"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(when(col("attributed"), lit(1L)).otherwise(lit(0L)))
            .as("n_attributed"),
          Det.dsum(when(col("attributed"), col("value"))
            .otherwise(lit(0.0))).as("attributed_rev"))
        .orderBy(col("day"))
    },
    Some("""
      WITH ce AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               value, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events WHERE event_type IN ('click', 'purchase')
      ), la AS (
        SELECT *,
               last_value(CASE WHEN event_type = 'click' THEN us END
                          IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_click_us
        FROM ce
      )
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchases,
             CAST(sum(CASE WHEN last_click_us IS NOT NULL
                            AND us - last_click_us <= 604800000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
             CAST(sum(CAST(CASE WHEN last_click_us IS NOT NULL
                                 AND us - last_click_us <= 604800000000
                                THEN value ELSE 0 END AS DECIMAL(18,2)))
                  AS DOUBLE) AS attributed_rev
      FROM la WHERE event_type = 'purchase'
      GROUP BY day ORDER BY day"""))

  /** q129: session path analysis — the ClickHouse sequence-analytics
    * capability beyond first-occurrence funnels (q108): the most common
    * session-opening event-type paths (first 5 events per 30-min-gap
    * session, '>'-joined). Ordering inside a session is the total
    * (ts, event_id) order via a sorted struct array, so the path string is
    * partition-invariant; per-session state is gap-bounded and the path is
    * capped at 5 events, so nothing unbounded ever materializes. Reuses
    * the ONE shared sessionization ([[sessionizedEvents]]) behind
    * q33/q112. */
  val q129 = Q(
    "q129_session_paths",
    (s, d) => {
      sessionizedEvents(Tables.load(s, d, "events"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(sort_array(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))).as("evs"))
        .select(concat_ws(
          ">",
          expr("transform(slice(evs, 1, 5), x -> x.event_type)"))
          .as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), col("path"))
        .limit(25)
    },
    Some("""
      WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN true
                    WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000 THEN true
                    ELSE false END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               sum(CASE WHEN new_session THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
      ), paths AS (
        SELECT user_id, session_id,
               array_to_string(list_slice(
                 list(event_type ORDER BY ts, event_id), 1, 5), '>')
                 AS path
        FROM numbered GROUP BY user_id, session_id
      )
      SELECT path, count(*) AS n_sessions
      FROM paths GROUP BY path
      ORDER BY n_sessions DESC, path
      LIMIT 25"""))

  /** q130: per-user running purchase totals — the cumulative-metric shape
    * every ledger/CDC consumer needs. The running sum is over integer
    * cents (window ROWS frame in the (ts, event_id) total order), so every
    * prefix is exact in both engines and the presented value is one IEEE
    * division of identical integers per row. Streaming face:
    * [[runningTotalsStream]] (transformWithState, strict parity in
    * StreamingSpec). Scale: one per-user window, the q33 shape. */
  val q130 = Q(
    "q130_running_totals",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"), col("ts"), col("event_id"),
          Det.cents(col("value")).as("cents"))
        .withColumn("run_n", count(lit(1)).over(w))
        .withColumn("run_cents", sum(col("cents")).over(w))
        .select(
          col("user_id"), col("event_id"), col("run_n"), col("run_cents"),
          (col("run_cents").cast(DoubleType) / lit(100.0)).as("run_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
      )
      SELECT user_id, event_id,
             count(*) OVER w AS run_n,
             CAST(sum(cents) OVER w AS BIGINT) AS run_cents,
             CAST(CAST(sum(cents) OVER w AS BIGINT) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS run_value
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
      ORDER BY user_id, event_id"""))

  /** Streaming running totals via Spark 4's transformWithState — see
    * [[RunningTotalsProcessor]]. Strict parity with q130's window cumsum
    * is asserted in StreamingSpec (integer state, so equality is exact
    * regardless of micro-batch splits, provided event-time order across
    * batches — the [[sessionizeStream]] contract). */
  def runningTotalsStream(events: DataFrame): Dataset[RunningTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id").cast("long"), unix_micros(col("ts")).as("us"),
        col("event_id").cast("long"), Det.cents(col("value")).as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** q132: trailing time-range window — the RANGE-frame face the suite's
    * other windows (all ROWS frames) don't cover: per purchase, the same
    * user's purchase count and exact-cents spend over the trailing 7 DAYS
    * (value range on integer microseconds, not row count). RANGE frames
    * include ALL peers of a tied boundary value, so the result is
    * tie-order independent by construction; state per partition is
    * user-bounded like q33. */
  val q132 = Q(
    "q132_trailing_window",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val week = 7L * 24 * 3600 * 1000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-week, 0)
      Tables.load(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          Det.cents(col("value")).as("cents"))
        .withColumn("trail_n", count(lit(1)).over(w))
        .withColumn("trail_cents", sum(col("cents")).over(w))
        .select(
          col("user_id"), col("event_id"), col("trail_n"),
          col("trail_cents"),
          (col("trail_cents").cast(DoubleType) / lit(100.0))
            .as("trail_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
      )
      SELECT user_id, event_id,
             count(*) OVER w AS trail_n,
             CAST(sum(cents) OVER w AS BIGINT) AS trail_cents,
             CAST(CAST(sum(cents) OVER w AS BIGINT) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS trail_value
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  /** q134: rolling z-score anomaly detection — the time-series outlier
    * face beside q133's global median/MAD: per event type's daily revenue
    * series, compare each day against the TRAILING 7 prior days (ROWS
    * frame, current day excluded so the anomaly can't dilute its own
    * baseline). The whole test is exact BIGINT algebra — with x the day's
    * cents and (n,S,Q) the prior-frame count/sum/sum-of-squares,
    * (x−mean)² > k²·var  ⇔  (x·n−S)² > k²·(n·Q−S²) — so the flag is
    * bit-identical cross-engine; the reported z² is ONE IEEE division of
    * those identical integers. Magnitudes: day-cents ≤ ~4e6 at sf0.1 ⇒
    * (x·n−S)² ≤ ~7e14, comfortably BIGINT (the squares stay exact up to
    * ~sf10). Scale: the series is calendar×category-bounded (days ×
    * event types), so the per-type window is trivially bounded; the only
    * corpus-sized work is the one daily-rollup shuffle. */
  val q134 = Q(
    "q134_rolling_zscore",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val daily = Tables.load(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(Det.cents(col("value"))).as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      daily
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s", sum(col("x")).over(w))
        .withColumn("q", sum(col("x") * col("x")).over(w))
        .filter(col("n") === 7)
        .withColumn("dev", col("x") * col("n") - col("s"))
        .withColumn("vt", col("n") * col("q") - col("s") * col("s"))
        .select(
          col("event_type"), col("day"),
          (col("x").cast(DoubleType) / lit(100.0)).as("day_value"),
          when(col("vt") > 0,
            (col("dev") * col("dev")).cast(DoubleType)
              / col("vt").cast(DoubleType))
            .otherwise(lit(null).cast(DoubleType)).as("z2"),
          (col("dev") * col("dev") > lit(4L) * col("vt")).as("is_outlier"))
        .orderBy(col("event_type"), col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
      ), framed AS (
        SELECT event_type, day, x,
               count(*) OVER w AS n,
               CAST(sum(x) OVER w AS BIGINT) AS s,
               CAST(sum(x * x) OVER w AS BIGINT) AS q
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      )
      SELECT event_type, day,
             CAST(x AS DOUBLE) / CAST(100 AS DOUBLE) AS day_value,
             CASE WHEN n * q - s * s > 0
                  THEN CAST((x * n - s) * (x * n - s) AS DOUBLE)
                       / CAST(n * q - s * s AS DOUBLE)
                  ELSE NULL END AS z2,
             (x * n - s) * (x * n - s) > 4 * (n * q - s * s) AS is_outlier
      FROM framed WHERE n = 7
      ORDER BY event_type, day"""))

  /** q135: exponential smoothing (EWMA) over each event type's daily
    * revenue series — the monitoring-engine `exponentialMovingAverage` /
    * forecasting-baseline capability beside q134's rolling z-score.
    * EWMA has no order-free closed form, and a native double SUM
    * accumulates in engine-specific order — so each day's smoothed value
    * is an EXPLICIT SEQUENTIAL FOLD over the day-ordered prefix
    * (Spark `aggregate(slice(...))` ↔ DuckDB `list_reduce(arr[1:i])`,
    * seeded with x₁ on both sides, identical `0.25·x + 0.75·acc` IEEE op
    * order ⇒ bit-identical doubles; the q95/q114 discipline). The
    * per-type series is calendar-bounded (≤ days×types values), so the
    * O(days²) prefix folds are trivially bounded and the only
    * corpus-sized work is the one daily-rollup shuffle. */
  val q135 = Q(
    "q135_ewma",
    (s, d) => {
      import org.apache.spark.sql.types.DoubleType
      Tables.load(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(Det.cents(col("value"))).cast(DoubleType).as("x"))
        .groupBy(col("event_type"))
        .agg(expr("sort_array(collect_list(struct(day, x)))").as("arr"))
        .select(col("event_type"),
          expr("""explode(transform(
            sequence(1, size(arr)),
            i -> struct(
              element_at(arr, i).day AS day,
              element_at(arr, i).x AS x,
              aggregate(
                transform(slice(arr, 2, i - 1), e -> e.x),
                element_at(arr, 1).x,
                (acc, v) -> 0.25D * v + 0.75D * acc) AS ew)))""")
            .as("r"))
        .select(
          col("event_type"), col("r.day").as("day"),
          (col("r.x") / lit(100.0)).as("day_value"),
          (col("r.ew") / lit(100.0)).as("ewma_value"))
        .orderBy(col("event_type"), col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
      ), series AS (
        SELECT event_type,
               list(day ORDER BY day) AS days,
               list(x ORDER BY day) AS xs
        FROM daily GROUP BY 1
      )
      SELECT event_type,
             days[i] AS day,
             xs[i] / CAST(100 AS DOUBLE) AS day_value,
             list_reduce(xs[1:i],
               (acc, v) -> 0.25 * v + 0.75 * acc)
               / CAST(100 AS DOUBLE) AS ewma_value
      FROM series, unnest(range(1, len(xs) + 1)) AS t(i)
      ORDER BY event_type, day"""))

  /** q136: Markov transition matrix — the sequence-analytics capability
    * beside q129's opening-path ranking: for every consecutive
    * within-session event pair (the (ts, event_id) total order inside the
    * shared 30-min-gap sessionization), the transition count and the
    * row-stochastic probability p(to | from). Counts are exact integers;
    * each probability is ONE IEEE division of identical integers
    * (count/row-total) so doubles are bit-identical cross-engine. Scale:
    * per-user-session lag windows (session-bounded state), one
    * categorical-pair aggregate, and a broadcast of the ≤|types| row
    * totals. Reuses [[sessionizedEvents]] (q33/q112/q129 core). */
  val q136 = Q(
    "q136_markov_transitions",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val w = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = sessionizedEvents(Tables.load(s, d, "events"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n_trans"))
      val totals = trans.groupBy(col("from_type"))
        .agg(sum(col("n_trans")).as("n_from"))
      trans.join(broadcast(totals), Seq("from_type"))
        .select(
          col("from_type"), col("to_type"), col("n_trans"), col("n_from"),
          (col("n_trans").cast(DoubleType) / col("n_from").cast(DoubleType))
            .as("p"))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""
      WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN true
                    WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000 THEN true
                    ELSE false END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               sum(CASE WHEN new_session THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
      ), trans AS (
        SELECT from_type, event_type AS to_type, count(*) AS n_trans
        FROM (
          SELECT user_id, session_id, event_type,
                 lag(event_type) OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts, event_id) AS from_type
          FROM numbered)
        WHERE from_type IS NOT NULL
        GROUP BY 1, 2
      ), totals AS (
        SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
        FROM trans GROUP BY 1
      )
      SELECT from_type, to_type, n_trans, n_from,
             CAST(n_trans AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
      FROM trans JOIN totals USING (from_type)
      ORDER BY from_type, to_type"""))

  /** q137: audience overlap matrix — the bitmap-intersection capability
    * (ClickHouse bitmapAndCardinality / segment-overlap audits): for every
    * event-type pair, the distinct-user intersection size and the Jaccard
    * overlap of the two audiences. Instead of a user-level SELF-JOIN
    * (corpus × corpus), each user contributes their BOUNDED type set
    * (≤ |types|): one distinct shuffle, one per-user set aggregate, ≤
    * C(|types|,2) exploded pairs per user, one categorical-pair count —
    * the same mass, no join. Jaccard is one IEEE division of exact
    * integers (n∩ / (n_a + n_b − n∩)); audience sizes arrive by broadcast.
    * The oracle DOES the naive self-join, so agreement also differentially
    * checks the set-explode rewrite. */
  val q137 = Q(
    "q137_audience_overlap",
    (s, d) => {
      import org.apache.spark.sql.types.DoubleType
      val ut = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_type")).distinct()
        .persistTracked()
      val sizes = ut.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      val pairs = ut.groupBy(col("user_id"))
        .agg(expr("sort_array(collect_set(event_type))").as("ts"))
        .select(explode(expr(
          """flatten(transform(ts, (x, i) ->
               transform(slice(ts, i + 2, size(ts)),
                 y -> struct(x AS a, y AS b))))""")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(sizes.select(col("event_type").as("a"),
          col("n").as("n_a"))), Seq("a"))
        .join(broadcast(sizes.select(col("event_type").as("b"),
          col("n").as("n_b"))), Seq("b"))
        .select(
          col("a"), col("b"), col("n_a"), col("n_b"), col("n_both"),
          (col("n_both").cast(DoubleType)
            / (col("n_a") + col("n_b") - col("n_both")).cast(DoubleType))
            .as("jaccard"))
        .orderBy(col("a"), col("b"))
    },
    Some("""
      WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
      ), sz AS (
        SELECT event_type, count(*) AS n FROM ut GROUP BY 1
      ), pairs AS (
        SELECT x.event_type AS a, y.event_type AS b, count(*) AS n_both
        FROM ut x JOIN ut y
          ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2
      )
      SELECT a, b, sa.n AS n_a, sb.n AS n_b, n_both,
             CAST(n_both AS DOUBLE)
               / CAST(sa.n + sb.n - n_both AS DOUBLE) AS jaccard
      FROM pairs
      JOIN sz sa ON sa.event_type = a
      JOIN sz sb ON sb.event_type = b
      ORDER BY a, b"""))

  /** q138: cohort LTV curves — the revenue face of q109's retention
    * triangle: per first-activity-week cohort and week offset, cumulative
    * purchase revenue per cohort user (the lifetime-value curve growth
    * teams read). Same data-min anchor discipline as q109 (both div
    * operands provably non-negative, so Spark's truncating `div` and
    * DuckDB's flooring `//` agree). Everything is exact BIGINT — weekly
    * cents, the per-cohort ROWS-frame cumsum (weeks-bounded window),
    * cohort sizes — and the presented LTV is ONE IEEE division of
    * identical integers. Scale: one user-level join shuffle (anchors
    * size-conditionally broadcast), calendar²-bounded grid after that. */
  val q138 = Q(
    "q138_cohort_ltv",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"), Det.cents(col("value")).as("cents"))
      val anchors = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("day0"))
        .persistTracked()
      val epoch = anchors.agg(min(col("day0")).as("epoch"))
      val sized = anchors.crossJoin(broadcast(epoch))
        .groupBy(expr("datediff(day0, epoch) div 7").as("cohort_week"))
        .agg(count(lit(1)).as("cohort_n"))
      val weekly = ev.filter(col("event_type") === "purchase")
        .join(anchors, Seq("user_id"))
        .crossJoin(broadcast(epoch))
        .groupBy(
          expr("datediff(day0, epoch) div 7").as("cohort_week"),
          expr("datediff(day, day0) div 7").as("week_offset"))
        .agg(sum(col("cents")).as("wk_cents"))
      val w = Window.partitionBy(col("cohort_week"))
        .orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weekly
        .withColumn("cum_cents", sum(col("wk_cents")).over(w))
        .join(broadcast(sized), Seq("cohort_week"))
        .select(
          col("cohort_week"), col("week_offset"), col("cohort_n"),
          col("wk_cents"), col("cum_cents"),
          (col("cum_cents").cast(DoubleType)
            / (col("cohort_n") * lit(100L)).cast(DoubleType))
            .as("ltv_per_user"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
      ), anchors AS (
        SELECT user_id, min(day) AS day0 FROM ev GROUP BY 1
      ), ep AS (
        SELECT min(day0) AS epoch FROM anchors
      ), sized AS (
        SELECT datediff('day', epoch, day0) // 7 AS cohort_week,
               count(*) AS cohort_n
        FROM anchors, ep GROUP BY 1
      ), weekly AS (
        SELECT datediff('day', epoch, day0) // 7 AS cohort_week,
               datediff('day', day0, day) // 7 AS week_offset,
               CAST(sum(cents) AS BIGINT) AS wk_cents
        FROM ev JOIN anchors USING (user_id), ep
        WHERE event_type = 'purchase'
        GROUP BY 1, 2
      ), cum AS (
        SELECT *, CAST(sum(wk_cents) OVER (
                 PARTITION BY cohort_week ORDER BY week_offset
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        FROM weekly
      )
      SELECT cohort_week, week_offset, cohort_n, wk_cents, cum_cents,
             CAST(cum_cents AS DOUBLE)
               / CAST(cohort_n * 100 AS DOUBLE) AS ltv_per_user
      FROM cum JOIN sized USING (cohort_week)
      ORDER BY cohort_week, week_offset"""))

  /** q140: rolling active users — the sliding-distinct capability
    * (ClickHouse `uniq` over a moving window / the DAU-WAU stickiness
    * every engagement dashboard reports). COUNT DISTINCT has no
    * subtractable window form, so the scale-clean rewrite is a bounded
    * COVERAGE EXPLODE: each distinct (user, active-day) emits the ≤7
    * target days it covers, and WAU(d) is a plain distinct count per
    * target day — one explode (×7, constant) + one distinct aggregate,
    * never a per-day self-join or a corpus-wide window. Target days are
    * clamped to the observed [min,max] so both engines enumerate the
    * same domain; stickiness is ONE IEEE division of exact integers.
    * The oracle computes WAU the naive way (range join), so agreement
    * also differentially checks the coverage rewrite. */
  val q140 = Q(
    "q140_rolling_active_users",
    (s, d) => {
      import org.apache.spark.sql.types.DoubleType
      val ud = Tables.load(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .persistTracked()
      val span = ud.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud.crossJoin(broadcast(span))
        .select(col("user_id"), explode(expr(
          "sequence(day, least(date_add(day, 6), hi))")).as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(
          col("day"), col("dau"), col("wau"),
          (col("dau").cast(DoubleType) / col("wau").cast(DoubleType))
            .as("stickiness"))
        .orderBy(col("day"))
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
      ), days AS (
        SELECT DISTINCT day FROM ud
      ), dau AS (
        SELECT day, count(*) AS dau FROM ud GROUP BY 1
      ), wau AS (
        -- the naive trailing-7-day range join the coverage explode
        -- rewrites away
        SELECT d.day, count(DISTINCT u.user_id) AS wau
        FROM days d JOIN ud u
          ON u.day <= d.day AND u.day >= d.day - 6
        GROUP BY 1
      )
      SELECT day, dau, wau,
             CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
      FROM dau JOIN wau USING (day)
      ORDER BY day"""))

  /** q143: growth accounting — the new/retained/resurrected/churned
    * weekly decomposition (the growth-team ledger q109's retention
    * triangle doesn't give): classify every active (user, week) by the
    * user's PREVIOUS active week (none → new, w−1 → retained, older →
    * resurrected), and count a churn into w+1 for every active week
    * whose next activity isn't w+1 (clamped to the observed week range).
    * Identity proven in the spec: actives(w) − churned(w+1 side) roll
    * the ledger forward. All integer counts; weeks anchor at the DATA
    * minimum (q109 discipline — both div operands non-negative, so
    * Spark `div` ≡ DuckDB `//`). Scale: one distinct shuffle + per-user
    * lag/lead windows (activity-bounded), categorical output. */
  val q143 = Q(
    "q143_growth_accounting",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val uw0 = Tables.load(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val epoch = uw0.agg(min(col("day")).as("epoch"))
      val uw = uw0.crossJoin(broadcast(epoch))
        .select(col("user_id"),
          expr("datediff(day, epoch) div 7").as("week"))
        .distinct()
        .persistTracked()
      val maxWeek = uw.agg(max(col("week")).as("max_week"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
      val classed = uw
        .withColumn("prev_w", lag(col("week"), 1).over(w))
        .withColumn("next_w", lead(col("week"), 1).over(w))
      val states = classed.groupBy(col("week"))
        .agg(
          sum(when(col("prev_w").isNull, 1L).otherwise(0L)).as("n_new"),
          sum(when(col("prev_w") === col("week") - 1, 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("prev_w").isNotNull &&
            col("prev_w") < col("week") - 1, 1L).otherwise(0L))
            .as("n_resurrected"))
      val churn = classed
        .filter(col("next_w").isNull || col("next_w") > col("week") + 1)
        .select((col("week") + 1).as("week"))
        .crossJoin(broadcast(maxWeek))
        .filter(col("week") <= col("max_week"))
        .groupBy(col("week")).agg(count(lit(1)).as("n_churned"))
      states.join(churn, Seq("week"), "left")
        .select(col("week"), col("n_new"), col("n_retained"),
          col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy(col("week"))
    },
    Some("""
      WITH uw AS (
        SELECT DISTINCT user_id,
               datediff('day',
                 (SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE))
                  FROM events),
                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week
        FROM events
      ), classed AS (
        SELECT user_id, week,
               lag(week)  OVER (PARTITION BY user_id ORDER BY week)
                 AS prev_w,
               lead(week) OVER (PARTITION BY user_id ORDER BY week)
                 AS next_w
        FROM uw
      ), states AS (
        SELECT week,
               CAST(sum(CASE WHEN prev_w IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN prev_w = week - 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_retained,
               CAST(sum(CASE WHEN prev_w IS NOT NULL AND prev_w < week - 1
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_resurrected
        FROM classed GROUP BY 1
      ), churn AS (
        SELECT week + 1 AS week, count(*) AS n_churned
        FROM classed
        WHERE (next_w IS NULL OR next_w > week + 1)
          AND week + 1 <= (SELECT max(week) FROM uw)
        GROUP BY 1
      )
      SELECT week, n_new, n_retained, n_resurrected,
             COALESCE(n_churned, 0) AS n_churned
      FROM states LEFT JOIN churn USING (week)
      ORDER BY week"""))

  /** q148: inter-purchase interval distribution — purchase-frequency
    * analysis (the inter-arrival family none of q109/q138/q143 cover):
    * per-user gaps between consecutive purchases in days, bucketed into
    * the standard frequency bands with counts and share-of-gaps. Gap
    * days are exact integer datediffs in the per-user (ts, event_id)
    * total order; band bounds are integer compares; shares are one IEEE
    * division of exact integers each. Scale: per-user lag windows
    * (activity-bounded), categorical-band aggregate — one shuffle. */
  val q148 = Q(
    "q148_purchase_intervals",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.load(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          to_date(col("ts")).as("day"))
        .withColumn("prev_day", lag(col("day"), 1).over(w))
        .filter(col("prev_day").isNotNull)
        .select(datediff(col("day"), col("prev_day"))
          .cast(org.apache.spark.sql.types.LongType).as("gap"))
      val banded = gaps
        .select(
          when(col("gap") === 0, "a_same_day")
            .when(col("gap") <= 3, "b_1_3d")
            .when(col("gap") <= 7, "c_4_7d")
            .when(col("gap") <= 14, "d_8_14d")
            .otherwise(lit("e_15d_plus")).as("band"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_gaps"))
      val tot = banded.agg(sum(col("n_gaps")).as("n_total"))
      banded.crossJoin(broadcast(tot))
        .select(col("band"), col("n_gaps"),
          (col("n_gaps").cast(DoubleType) / col("n_total").cast(DoubleType))
            .as("share"))
        .orderBy(col("band"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events WHERE event_type = 'purchase'
      ), gaps AS (
        SELECT CAST(datediff('day',
                 lag(day) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id),
                 day) AS BIGINT) AS gap
        FROM p
        QUALIFY lag(day) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NOT NULL
      ), banded AS (
        SELECT CASE WHEN gap = 0 THEN 'a_same_day'
                    WHEN gap <= 3 THEN 'b_1_3d'
                    WHEN gap <= 7 THEN 'c_4_7d'
                    WHEN gap <= 14 THEN 'd_8_14d'
                    ELSE 'e_15d_plus' END AS band,
               count(*) AS n_gaps
        FROM gaps GROUP BY 1
      ), tot AS (
        SELECT CAST(sum(n_gaps) AS BIGINT) AS n_total FROM banded
      )
      SELECT band, n_gaps,
             CAST(n_gaps AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
      FROM banded, tot
      ORDER BY band"""))

  /** q149: the [[enrichedRevenue]] stream-static enrichment under the
    * ORACLE (the StreamingSpec proves stream==batch; this proves
    * batch==DuckDB, closing stream==batch==oracle like q120): hourly
    * weighted revenue per category against a literal type→(category,
    * weight) dimension — inlined VALUES on both sides, broadcast on
    * ours. */
  val q149 = Q(
    "q149_enriched_revenue",
    (s, d) => {
      import s.implicits._
      val dim = Seq(
        ("view", "browse", 1L), ("click", "browse", 2L),
        ("purchase", "transact", 10L), ("refund", "transact", 10L),
        ("search", "browse", 1L)).toDF("event_type", "category", "weight")
      enrichedRevenue(Tables.load(s, d, "events"), dim)
        .orderBy(col("hour_start"), col("category"))
    },
    Some("""
      WITH dim(event_type, category, weight) AS (
        VALUES ('view', 'browse', 1), ('click', 'browse', 2),
               ('purchase', 'transact', 10), ('refund', 'transact', 10),
               ('search', 'browse', 1)
      )
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             category, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
                      * CAST(weight AS BIGINT)) AS BIGINT)
               AS weighted_cents
      FROM events JOIN dim USING (event_type)
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** q150: conversion latency — the TIME dimension q108's funnel counts
    * leave out: for users who purchased after their first view, the
    * first-view→first-qualifying-purchase delay, as exact integer-hour
    * percentiles (p50/p90, q115 position discipline over a (delay,
    * user_id) total order) plus the converted-user count and conversion
    * rate (one IEEE division of exact integers). First-view/first-
    * purchase anchors are plain min-aggregates (the q108 shape — no
    * per-user event lists); the percentile rank runs over the
    * CONVERTED-USERS table (one row per converted user) via
    * [[graft.operators.GlobalOrder.withOrderedCumsum]] — a distributed
    * range-partitioned rank, never a single-partition ORDER BY window. */
  val q150 = Q(
    "q150_conversion_latency",
    (s, d) => {
      import org.apache.spark.sql.types.{DoubleType, LongType}
      import graft.Caches.Tracked
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val anchors = ev.groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("us"))).as("v0"),
          count(lit(1)).as("n_ev"))
      val firstBuyAfter = ev.filter(col("event_type") === "purchase")
        .join(anchors.filter(col("v0").isNotNull)
          .select(col("user_id"), col("v0")), Seq("user_id"))
        .filter(col("us") >= col("v0"))
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("p0"), min(col("v0")).as("v0"))
      // delay is non-negative by construction (p0 >= v0), so integer
      // `div` (truncation) is the same floor DuckDB's // computes
      val delays = firstBuyAfter
        .select(col("user_id"),
          expr("(p0 - v0) div 3600000000").as("delay_h"))
      val ranked = graft.operators.GlobalOrder.withOrderedCumsum(
          delays, Seq(col("delay_h"), col("user_id")), lit(1L), "rn")
        .persistTracked()
      val nViewers = anchors.filter(col("v0").isNotNull)
        .agg(count(lit(1)).as("n_viewers"))
      val stats = ranked.agg(max(col("rn")).cast(LongType).as("n_conv"))
      val p50 = ranked.crossJoin(broadcast(stats))
        .filter(col("rn") === expr("(n_conv * 50 + 99) div 100"))
        .select(col("delay_h").as("p50_hours"))
      val p90 = ranked.crossJoin(broadcast(stats))
        .filter(col("rn") === expr("(n_conv * 90 + 99) div 100"))
        .select(col("delay_h").as("p90_hours"))
      stats.crossJoin(broadcast(nViewers))
        .crossJoin(broadcast(p50)).crossJoin(broadcast(p90))
        .select(col("n_viewers"), col("n_conv"),
          (col("n_conv").cast(DoubleType)
            / col("n_viewers").cast(DoubleType)).as("conv_rate"),
          col("p50_hours"), col("p90_hours"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
      ), anchors AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN us END) AS v0
        FROM ev GROUP BY 1
      ), conv AS (
        SELECT e.user_id,
               (min(e.us) - min(a.v0)) // 3600000000 AS delay_h
        FROM ev e JOIN anchors a ON e.user_id = a.user_id
        WHERE e.event_type = 'purchase' AND a.v0 IS NOT NULL
          AND e.us >= a.v0
        GROUP BY 1
      ), ranked AS (
        SELECT delay_h,
               row_number() OVER (ORDER BY delay_h, user_id) AS rn
        FROM conv
      ), stats AS (
        SELECT CAST(max(rn) AS BIGINT) AS n_conv FROM ranked
      ), viewers AS (
        SELECT count(*) AS n_viewers FROM anchors WHERE v0 IS NOT NULL
      )
      SELECT n_viewers, n_conv,
             CAST(n_conv AS DOUBLE) / CAST(n_viewers AS DOUBLE)
               AS conv_rate,
             (SELECT delay_h FROM ranked, stats
              WHERE rn = (n_conv * 50 + 99) // 100) AS p50_hours,
             (SELECT delay_h FROM ranked, stats
              WHERE rn = (n_conv * 90 + 99) // 100) AS p90_hours
      FROM stats, viewers"""))

  /** q154: incremental materialized-view maintenance — the exact-
    * aggregate merge law that keeps a daily rollup fresh WITHOUT full
    * recompute: a stored base rollup (all days but the last) plus a
    * delta rollup (the last day only) re-aggregated by key must equal
    * the direct full aggregate. The ORACLE computes the direct path, so
    * a pass proves base ⊎ delta == full cross-engine — the exact-agg
    * sibling of the stored-sketch merge laws (q121 quantile bucket-sum,
    * q122 CMS cell-sum, q118 HLL register-max). COUNT and exact-DECIMAL
    * SUM are the additive state; the split day comes from the data's
    * own max(day) so the query is SF-independent. Scale: both legs are
    * one map-side-combinable aggregate; the merge re-aggregates
    * rollup-sized (not corpus-sized) rows. */
  val q154 = Q(
    "q154_incremental_rollup",
    (s, d) => {
      import org.apache.spark.sql.types.DoubleType
      val ev = Tables.load(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("event_type"),
          col("value"))
        .persistTracked()
      val lastDay = ev.agg(max(col("day")).as("last_day"))
      val tagged = ev.crossJoin(broadcast(lastDay))
      def rollup(df: DataFrame): DataFrame =
        df.groupBy(col("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(Det.cents(col("value"))).as("cents"))
      val base = rollup(tagged.filter(col("day") < col("last_day")))
      val delta = rollup(tagged.filter(col("day") === col("last_day")))
      base.unionAll(delta)
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
        .select(col("day"), col("event_type"), col("n"),
          (col("cents").cast(DoubleType) / lit(100.0)).as("sum_value"))
        .orderBy(col("day"), col("event_type"))
    },
    Some("""
      SELECT CAST(ts AS DATE) AS day, event_type,
             count(*) AS n,
             CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** q160: in-session ordered sequence match — ClickHouse's
    * `sequenceMatch('(?1).*(?2).*(?3)')` over sessions: does a session
    * contain a view, then STRICTLY LATER a click, then strictly later a
    * purchase (any events in between)? q108's funnel anchors on each
    * user's lifetime firsts; this one requires the order INSIDE one
    * session, which is what distinguishes browsing-to-buy behavior from
    * coincidental lifetime ordering. Semantics follow ClickHouse: stage
    * anchors compare event TIMESTAMPS only (strictly greater), so every
    * anchor is a plain conditional MIN over microsecond values — no row
    * identity, no tiebreaks, deterministic by construction. Scale: the
    * shared sessionizer's per-user windows, then three conditional-min
    * aggregates over (user, session) — each a map-side-combinable
    * reduce; no per-session event lists materialize. Fixture note: the
    * 30-minute gap rule yields ~1-event sessions on this sparse event
    * stream, so the full 3-step match is honestly rare (0 at
    * sf≤0.01, 1 at sf0.1) while the 2-step stage fires at every SF —
    * the per-stage counts are the output precisely so thin funnels
    * stay visible. */
  val q160 = Q(
    "q160_sequence_match",
    (s, d) => {
      import org.apache.spark.sql.types.DoubleType
      val ev = sessionizedEvents(Tables.load(s, d, "events"))
        .select(col("user_id"), col("session_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .persistTracked()
      val s1 = ev.groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_ev"),
          min(when(col("event_type") === "view", col("us"))).as("a1"))
      val s2 = ev.join(s1.filter(col("a1").isNotNull)
          .select(col("user_id"), col("session_id"), col("a1")),
          Seq("user_id", "session_id"))
        .filter(col("event_type") === "click" && col("us") > col("a1"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("us")).as("a2"))
      val s3 = ev.join(s2, Seq("user_id", "session_id"))
        .filter(col("event_type") === "purchase" && col("us") > col("a2"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("us")).as("a3"))
      s1.join(s2.select(col("user_id"), col("session_id"),
            lit(1L).as("hit2")), Seq("user_id", "session_id"), "left_outer")
        .join(s3.select(col("user_id"), col("session_id"),
            lit(1L).as("hit3")), Seq("user_id", "session_id"), "left_outer")
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(when(col("a1").isNotNull, 1L).otherwise(0L)).as("n_view"),
          sum(when(col("hit2").isNotNull, 1L).otherwise(0L))
            .as("n_view_click"),
          sum(when(col("hit3").isNotNull, 1L).otherwise(0L))
            .as("n_full_sequence"))
        .withColumn("match_rate",
          col("n_full_sequence").cast(DoubleType)
            / col("n_sessions").cast(DoubleType))
    },
    Some("""
      WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN true
                    WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000 THEN true
                    ELSE false END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, event_type, epoch_us(ts) AS us,
               sum(CASE WHEN new_session THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
      ), s1 AS (
        SELECT user_id, session_id,
               min(CASE WHEN event_type = 'view' THEN us END) AS a1
        FROM numbered GROUP BY 1, 2
      ), s2 AS (
        SELECT n.user_id, n.session_id, min(n.us) AS a2
        FROM numbered n JOIN s1
          ON n.user_id = s1.user_id AND n.session_id = s1.session_id
        WHERE s1.a1 IS NOT NULL AND n.event_type = 'click'
          AND n.us > s1.a1
        GROUP BY 1, 2
      ), s3 AS (
        SELECT n.user_id, n.session_id, min(n.us) AS a3
        FROM numbered n JOIN s2
          ON n.user_id = s2.user_id AND n.session_id = s2.session_id
        WHERE n.event_type = 'purchase' AND n.us > s2.a2
        GROUP BY 1, 2
      )
      SELECT count(*) AS n_sessions,
             CAST(count(*) FILTER (s1.a1 IS NOT NULL) AS BIGINT) AS n_view,
             CAST(count(*) FILTER (s2.a2 IS NOT NULL) AS BIGINT)
               AS n_view_click,
             CAST(count(*) FILTER (s3.a3 IS NOT NULL) AS BIGINT)
               AS n_full_sequence,
             CAST(count(*) FILTER (s3.a3 IS NOT NULL) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS match_rate
      FROM s1
      LEFT JOIN s2 ON s1.user_id = s2.user_id
        AND s1.session_id = s2.session_id
      LEFT JOIN s3 ON s1.user_id = s3.user_id
        AND s1.session_id = s3.session_id"""))

  /** q176: A/B experiment read-out — deterministic arm assignment +
    * two-proportion pooled z-test, the experimentation-platform core
    * loop. Arm = md5-parity of the user id (the q54 hash-coordinate
    * convention: engine-portable, stable across reruns, uncorrelated
    * with behavior), outcome = user ever purchased. The z machinery
    * uses sqrt — safe cross-engine because IEEE 754 REQUIRES sqrt
    * correctly rounded (unlike log/exp/pow, which this repo bans —
    * q56's rationale); every other double op is the same expression
    * tree over identical integer-derived operands, so z is
    * bit-identical. The fixture assigns arms by hash with no real
    * treatment, so the honest read-out is |z| small — the A/A-test
    * shape an experimentation pipeline uses to validate its own
    * plumbing. Scale: one per-user reduce, one 2-row conditional
    * aggregate. */
  val q176 = Q(
    "q176_ab_test",
    (s, d) => {
      import org.apache.spark.sql.types.DoubleType
      val users = Tables.load(s, d, "events")
        .groupBy(col("user_id"))
        // outcome: a "big" purchase (>= 200.00) — every fixture user
        // makes SOME purchase, so bare has-purchased is pooled=1 and
        // the z denominator degenerates; ~20% clear this bar at all SFs
        .agg(max(when(col("event_type") === "purchase"
            && Det.cents(col("value")) >= 20000L, 1L)
          .otherwise(0L)).as("conv"))
        .withColumn("arm", expr(
          "instr('0123456789abcdef', " +
            "substring(md5(CAST(user_id AS STRING)), 32, 1)) % 2"))
      val st = users.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("x_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("x_b"))
      st.select(
          col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          (col("x_a").cast(DoubleType) / col("n_a").cast(DoubleType))
            .as("p_a"),
          (col("x_b").cast(DoubleType) / col("n_b").cast(DoubleType))
            .as("p_b"),
          ((col("x_a") + col("x_b")).cast(DoubleType)
            / (col("n_a") + col("n_b")).cast(DoubleType)).as("pooled"))
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          col("p_a"), col("p_b"),
          (col("p_a") - col("p_b")).as("diff"),
          when(col("pooled") > 0.0 && col("pooled") < 1.0,
            (col("p_a") - col("p_b"))
              / sqrt(col("pooled") * (lit(1.0) - col("pooled"))
                * ((col("n_a") + col("n_b")).cast(DoubleType)
                  / (col("n_a") * col("n_b")).cast(DoubleType))))
            .as("z"))
    },
    Some("""
      WITH users AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase'
                        AND CAST(round(value * 100) AS BIGINT) >= 20000
                        THEN 1 ELSE 0 END) AS conv,
               strpos('0123456789abcdef',
                 substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) % 2 AS arm
        FROM events GROUP BY user_id
      ), st AS (
        SELECT
          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
            AS x_a,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
            AS x_b
        FROM users
      ), p AS (
        SELECT *,
          CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
          CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
          CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pooled
        FROM st
      )
      SELECT n_a, x_a, n_b, x_b, p_a, p_b, p_a - p_b AS diff,
             CASE WHEN pooled > 0.0 AND pooled < 1.0 THEN
               (p_a - p_b) / sqrt(pooled * (1.0 - pooled)
                 * (CAST(n_a + n_b AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)))
             ELSE NULL END AS z
      FROM p"""))

  /** Watermarked hourly per-user activity state — the streaming TOP-K's
    * state layer, shared verbatim by batch (q175's read-off leg) and
    * readStream (the parity spec). The state is keyed SUMs (count +
    * exact cents) under a watermark: associative, commutative,
    * micro-batch-split-invariant — so stream==batch parity is STRICT,
    * the q120/q123 argument. The RANKING never runs in the stream:
    * top-k reads off downstream over the compact per-hour counts, the
    * same state/readoff split as q123's quantiles (ClickHouse topK's
    * streaming materialized-view shape, done exactly: per-hour user
    * cardinality is watermark-bounded, so exact counts replace the
    * space-saving sketch). */
  def hourlyUserCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(Det.cents(col("value"))).as("cents"))
      .select(col("w.start").as("hour_start"), col("user_id"),
        col("n"), col("cents"))

  /** q175: streaming top-k read-off — the 3 most active users per hour
    * by (event count, exact cents, user id). See [[hourlyUserCounts]]
    * for the streaming-state argument; this is its batch face under
    * the DuckDB oracle, closing stream==batch==oracle. The rank window
    * partitions per hour over the ALREADY-AGGREGATED counts (rows =
    * active users that hour, not events). */
  val q175 = Q(
    "q175_stream_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("hour_start"))
        .orderBy(desc("n"), desc("cents"), col("user_id"))
      hourlyUserCounts(Tables.load(s, d, "events"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("hour_start"), col("rnk").as("rnk"), col("user_id"),
          col("n"),
          (col("cents").cast(org.apache.spark.sql.types.DoubleType)
            / lit(100.0)).as("value_sum"))
        .orderBy(col("hour_start"), col("rnk"))
    },
    Some("""
      WITH c AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
               user_id, count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events GROUP BY 1, 2
      ), ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY hour_start
                 ORDER BY n DESC, cents DESC, user_id) AS INTEGER) AS rnk
        FROM c
      )
      SELECT hour_start, rnk, user_id, n,
             CAST(cents AS DOUBLE) / 100 AS value_sum
      FROM ranked
      WHERE rnk <= 3
      ORDER BY hour_start, rnk"""))

  /** q171: consecutive-day activity streaks — the gaps-and-islands
    * pattern (q148 measures the GAPS between purchases; this measures
    * the ISLANDS of unbroken daily activity, the "7-day streak" every
    * engagement dashboard shows). The island identity is the classic
    * rank trick: within a user's distinct active days in ascending
    * order, epoch_day − row_number() is CONSTANT exactly while days
    * are consecutive, so one subtraction labels every island with no
    * self-join and no iteration. Output is the population histogram of
    * longest streaks. Scale: the row_number window partitions by user
    * (bounded by the observation window's day count per user, never
    * corpus-global); distinct-day dedup and the two aggregates are
    * ordinary shuffles. */
  val q171 = Q(
    "q171_activity_streaks",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val days = Tables.load(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val streaks = days
        .withColumn("grp",
          expr("datediff(day, DATE'1970-01-01')")
            - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
      streaks.groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .groupBy(col("longest_streak"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_streaks")).as("n_streaks_total"))
        .orderBy(col("longest_streak"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
      ), islands AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', day)
                 - row_number() OVER (PARTITION BY user_id ORDER BY day)
                 AS grp
        FROM days
      ), streaks AS (
        SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        FROM islands GROUP BY 1, 2
      ), per_user AS (
        SELECT user_id, max(len) AS longest_streak,
               CAST(count(*) AS BIGINT) AS n_streaks
        FROM streaks GROUP BY 1
      )
      SELECT longest_streak, count(*) AS n_users,
             CAST(sum(n_streaks) AS BIGINT) AS n_streaks_total
      FROM per_user
      GROUP BY 1
      ORDER BY longest_streak"""))

  /** q185: day-of-week seasonality profile — the weekly-rhythm audit
    * behind traffic forecasting and anomaly baselines: per event type ×
    * weekday, event count, share of the type's volume, and the lift vs
    * a uniform week (7n/total — >1 means that weekday over-indexes).
    * Weekday numbering is pinned cross-engine to 0 = Sunday: Spark's
    * dayofweek is 1-based Sunday, DuckDB's 0-based — the Spark side
    * subtracts 1 rather than relying on either engine's locale default.
    * Both ratios are single IEEE divisions of exact counts. Scale: one
    * map-side-combinable aggregate to a (types × 7)-sized table; the
    * per-type totals come from re-aggregating those rows, not a second
    * corpus pass. */
  val q185 = Q(
    "q185_dow_profile",
    (s, d) => {
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val counts = Tables.load(s, d, "events")
        .groupBy(col("event_type"),
          (dayofweek(col("ts")) - 1).cast(LongType).as("dow"))
        .agg(count(lit(1)).as("n"))
      val tot = counts.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_type"))
      counts.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n"),
          (col("n").cast(DoubleType) / col("n_type").cast(DoubleType))
            .as("share"),
          ((col("n") * 7L).cast(DoubleType)
            / col("n_type").cast(DoubleType)).as("uniform_lift"))
        .orderBy(col("event_type"), col("dow"))
    },
    Some("""
      WITH c AS (
        SELECT event_type,
               CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
               count(*) AS n
        FROM events
        GROUP BY 1, 2
      ), t AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type
        FROM c GROUP BY event_type
      )
      SELECT event_type, dow, n,
             CAST(n AS DOUBLE) / CAST(n_type AS DOUBLE) AS share,
             CAST(n * 7 AS DOUBLE) / CAST(n_type AS DOUBLE)
               AS uniform_lift
      FROM c JOIN t USING (event_type)
      ORDER BY event_type, dow"""))

  /** q187: session entry/exit analysis — the landing/exit-page report
    * every product-analytics stack ships: per (entry event type, exit
    * event type) pair, session count, bounce count (single-event
    * sessions, where entry ≡ exit by construction), and share of all
    * sessions. Built on the SHARED sessionization ([[sessionizedEvents]],
    * same 30-min-gap state q33/q129/q160 use); entry/exit picked by a
    * per-session min/max over the (ts, event_id) total order via ONE
    * sorted-struct aggregate — sessions are gap-bounded small, so no
    * skewed window exists. The fixture's ~1-event sessions make bounce
    * dominate — reported, not hidden (the q160 thin-funnel discipline).
    * Scale: the q33 per-user shuffle + one pair-space-sized aggregate. */
  val q187 = Q(
    "q187_entry_exit",
    (s, d) => {
      import org.apache.spark.sql.types.DoubleType
      val per = sessionizedEvents(Tables.load(s, d, "events"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(struct(col("ts"), col("event_id"), col("event_type")))
            .getField("event_type").as("entry_type"),
          max(struct(col("ts"), col("event_id"), col("event_type")))
            .getField("event_type").as("exit_type"))
      val pairs = per.groupBy(col("entry_type"), col("exit_type"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L))
            .as("n_bounce"))
      val tot = pairs.agg(sum(col("n_sessions")).as("n_total"))
      pairs.crossJoin(broadcast(tot))
        .select(col("entry_type"), col("exit_type"), col("n_sessions"),
          col("n_bounce"),
          (col("n_sessions").cast(DoubleType)
            / col("n_total").cast(DoubleType)).as("share"))
        .orderBy(col("entry_type"), col("exit_type"))
    },
    Some("""
      WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN true
                    WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000 THEN true
                    ELSE false END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               sum(CASE WHEN new_session THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
      ), per AS (
        SELECT user_id, session_id, count(*) AS n_events,
               (list(event_type ORDER BY ts, event_id))[1] AS entry_type,
               (list(event_type ORDER BY ts DESC, event_id DESC))[1]
                 AS exit_type
        FROM numbered GROUP BY user_id, session_id
      ), pairs AS (
        SELECT entry_type, exit_type, count(*) AS n_sessions,
               CAST(count(*) FILTER (n_events = 1) AS BIGINT) AS n_bounce
        FROM per GROUP BY entry_type, exit_type
      )
      SELECT entry_type, exit_type, n_sessions, n_bounce,
             CAST(n_sessions AS DOUBLE)
               / CAST((SELECT sum(n_sessions) FROM pairs) AS DOUBLE)
               AS share
      FROM pairs
      ORDER BY entry_type, exit_type"""))

  /** q191: the native session_window SESSION LEDGER — where q44 uses
    * the primitive for per-user session counts, this emits the full
    * per-session frame (user, start, end = last event + gap, event
    * count, exact value sum): the session table every downstream
    * behavioral query joins against. Same 30-minute gap rule INCLUDING
    * the boundary:
    * session_window's merge end is inclusive, so a gap of exactly
    * 30:00.000000 merges — identical to q33's `gap > 30min` split rule
    * (asserted by the NewOperatorsSpec boundary probe; the replay
    * uses the same `>`). Output is the session ledger (user, start,
    * end = last event + gap, n, exact value sum). Scale:
    * session_window is a single grouped aggregation
    * (codegen'd merging agg, no window-function sort barrier), the
    * operator a 100 TB event log wants; the same expression works
    * unchanged under `readStream` + watermark. */
  /** ONE definition for batch (q191) and streaming (StreamingSpec
    * parity): the watermark is a no-op on batch inputs and bounds the
    * session state on streams — the windowedCounts discipline. */
  def sessionLedger(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(
        col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        Det.dsum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        col("sw.start").as("s_start"),
        col("sw.end").as("s_end"),
        col("n_events"), col("sum_value"))

  val q191 = Q(
    "q191_session_window_native",
    (s, d) =>
      sessionLedger(Tables.load(s, d, "events"))
        .orderBy(col("user_id"), col("s_start")),
    Some(s"""
      WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN true
                    WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000 THEN true
                    ELSE false END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts, value,
               sum(CASE WHEN new_session THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
      )
      SELECT user_id,
             min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end,
             count(*) AS n_events,
             ${Det.dsumSql("value")} AS sum_value
      FROM numbered
      GROUP BY user_id, session_id
      ORDER BY user_id, s_start"""))

  /** Windowed distinct-user KMV sketch — the streaming face of
    * [[graft.functions.KmvMd5]], completing the sketch family's
    * streaming story beside q120's HLL and q123's quantile buckets.
    * The state (k smallest distinct hash values per window) is a SET —
    * order-independent under any micro-batch split — so the
    * StreamingSpec parity is STRICT equality, like q120 and unlike
    * anything merge-order-sensitive. Emits the sketch READ-OFF (k_used,
    * retained max, estimate), not the raw array: the estimate is exact
    * below k and (k−1)·2^60/v_k at k (single IEEE division of exact
    * integers — 63·2^60 has 6 significant bits). The fixture's hourly
    * populations stay under k (max 51 distinct users/window at sf0.1),
    * so this query's oracle rows exercise the EXACT branch; the
    * estimation branch is oracle-covered by q215, whose per-source
    * shingle sets saturate the sketch. Scale: ≤512 B state per
    * (window, type), watermark-bounded; the union algebra (q215)
    * means downstream consumers can also OVERLAP windows cheaply. */
  def kmvUniques(events: DataFrame): DataFrame = {
    val K = graft.functions.KmvMd5.K
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(graft.functions.KmvMd5.sketch(
        col("user_id").cast(org.apache.spark.sql.types.StringType))
        .as("sk"))
      .select(
        col("w.start").as("hour_start"), col("event_type"),
        size(col("sk")).as("k_used"),
        // an all-NULL window yields an EMPTY sketch — element_at(_, 0)
        // would throw INVALID_ARRAY_INDEX and fail the batch; emit NULL
        when(size(col("sk")) > 0,
          element_at(col("sk"), size(col("sk")))).as("v_max"),
        when(size(col("sk")) < K,
          size(col("sk")).cast(org.apache.spark.sql.types.DoubleType))
          .otherwise(lit((K - 1).toDouble) *
            lit(graft.functions.KmvMd5.Domain) /
            element_at(col("sk"), K)
              .cast(org.apache.spark.sql.types.DoubleType))
          .as("uniq_est"))
  }

  val q216 = Q(
    "q216_stream_kmv",
    (s, d) =>
      kmvUniques(Tables.load(s, d, "events"))
        .orderBy(col("hour_start"), col("event_type")),
    Some {
      import graft.functions.KmvMd5.{nibSql, DomainSql, K}
      // NULL discipline mirrors the Spark side exactly (r6 review ×2):
      // a NULL user_id contributes NO sketch value but its window row
      // still exists — windows come from ALL events, hashes only from
      // non-null users, left-joined back (an all-NULL window reads
      // k_used=0, v_max NULL, uniq_est 0.0 — the Spark empty sketch).
      // A NULL ts is dropped on BOTH sides (Spark's window() emits no
      // group for it); a NULL event_type IS a group on both sides, so
      // the join compares it with IS NOT DISTINCT FROM, never `=`.
      s"""
      WITH wins AS (
        SELECT DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP))
                 AS hour_start, event_type
        FROM events
        WHERE ts IS NOT NULL
      ), vals AS (
        SELECT DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP))
                 AS hour_start,
               event_type, CAST(user_id AS VARCHAR) AS sv
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
      ), h AS (
        SELECT DISTINCT hour_start, event_type, ${nibSql("sv")} AS hv
        FROM vals
      ), rk AS (
        SELECT hour_start, event_type, hv,
               row_number() OVER (PARTITION BY hour_start, event_type
                                  ORDER BY hv) AS rn
        FROM h
      ), agg AS (
        SELECT hour_start, event_type,
               count(*) AS k_used,
               max(hv) AS v_max
        FROM rk WHERE rn <= $K
        GROUP BY hour_start, event_type
      )
      SELECT w.hour_start, w.event_type,
             coalesce(a.k_used, 0) AS k_used,
             a.v_max,
             CASE WHEN coalesce(a.k_used, 0) < $K
                  THEN CAST(coalesce(a.k_used, 0) AS DOUBLE)
                  ELSE CAST(${K - 1} AS DOUBLE) * $DomainSql
                       / CAST(a.v_max AS DOUBLE) END AS uniq_est
      FROM wins w
      LEFT JOIN agg a ON a.hour_start = w.hour_start
                     AND a.event_type IS NOT DISTINCT FROM w.event_type
      ORDER BY w.hour_start, w.event_type NULLS FIRST"""
    })

  /** q339: SHAPLEY-VALUE ATTRIBUTION — the game-theoretic credit rule
    * between q126's last-click and q292's Markov removal effect (Shapley
    * 1953; Zhao et al. 2018, "Shapley Value Methods for Attribution
    * Modeling in Online Advertising"): each converting journey is the
    * unanimity game on its touched-channel SET, whose Shapley value
    * splits the conversion EQUALLY among the |T| distinct channels
    * touched before the first purchase — so φ(ch) = Σ_journeys∋ch 1/|T|,
    * EXACT over twelfths (|T| ≤ 4 non-purchase channels; lcm(1..4)=12
    * makes every per-journey credit an integer: 12/|T|). Output per
    * channel: journeys touched, credit (one division by 12), and the
    * credit share (one more). Conservation — Σ credits = number of
    * attributable conversions — is the spec's gate. Scale: one
    * first-purchase aggregate per user (shuffle on user), one distinct
    * touch rollup, a |channels|-row readout. */
  val q339 = Q(
    "q339_shapley_attribution",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      val firstConv = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("c"))
        .select(col("user_id"), col("c.ts").as("cts"),
          col("c.event_id").as("ceid"))
      val touches = ev
        .join(firstConv, Seq("user_id"))
        .filter(col("event_type") =!= "purchase" &&
          (col("ts") < col("cts") ||
            (col("ts") === col("cts") && col("event_id") < col("ceid"))))
        .select(col("user_id"), col("event_type").as("channel"))
        .distinct()
      val credits = touches
        .withColumn("t_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))))
        .withColumn("credit12", expr("12 div t_size"))
      val tot = credits.select(col("user_id"), col("credit12"))
        .agg(sum(col("credit12")).as("tot12"))
      credits
        .groupBy(col("channel"))
        .agg(
          count(lit(1)).as("n_journeys"),
          sum(col("credit12")).as("credit12"))
        .crossJoin(broadcast(tot))
        .select(col("channel"), col("n_journeys"),
          (col("credit12").cast(DoubleType) / lit(12.0)).as("credit"),
          (col("credit12").cast(DoubleType) /
            col("tot12").cast(DoubleType)).as("credit_share"))
        .orderBy(col("channel"))
    },
    Some("""
      WITH first_conv AS (
        SELECT user_id, ts AS cts, event_id AS ceid FROM (
          SELECT user_id, ts, event_id,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
          FROM events WHERE event_type = 'purchase')
        WHERE rn = 1
      ), touches AS (
        SELECT DISTINCT e.user_id, e.event_type AS channel
        FROM events e JOIN first_conv f ON e.user_id = f.user_id
        WHERE e.event_type <> 'purchase'
          AND (e.ts < f.cts OR (e.ts = f.cts AND e.event_id < f.ceid))
      ), credits AS (
        SELECT user_id, channel,
               12 // count(*) OVER (PARTITION BY user_id) AS credit12
        FROM touches
      ), tot AS (
        SELECT CAST(sum(credit12) AS BIGINT) AS tot12 FROM credits
      )
      SELECT channel, count(*) AS n_journeys,
             CAST(sum(credit12) AS DOUBLE) / 12.0 AS credit,
             CAST(sum(credit12) AS DOUBLE) / CAST(tot12 AS DOUBLE)
               AS credit_share
      FROM credits, tot
      GROUP BY channel, tot12
      ORDER BY channel"""))

  /** Shared SRM transform — one definition serves the batch Q (oracled)
    * and the streaming parity spec (readStream → complete mode), like
    * [[windowedCounts]]. The dose simulates the classic SRM root cause:
    * a logging bug silently drops a third of ONE arm on ONE day
    * (day-of-month 15, treatment users with id % 3 = 0). */
  def srmDaily(events: DataFrame): DataFrame =
    events
      .withColumn("arm", col("user_id") % 2)
      .filter(!(dayofmonth(col("ts")) === 15 && col("arm") === 1))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"))
      .withColumn("chi2",
        ((col("n_c") - col("n_t")) * (col("n_c") - col("n_t")))
          .cast(DoubleType) / (col("n_c") + col("n_t")).cast(DoubleType))
      .withColumn("srm_alarm", col("chi2") > 10.828)

  /** q376: SAMPLE-RATIO-MISMATCH MONITOR (Fabijan et al. 2019, "Diagnosing
    * Sample Ratio Mismatch in Online Controlled Experiments" — the
    * health check every experimentation platform runs BEFORE any metric
    * read, at the industry-standard p &lt; 0.001 bar, χ²₁ &gt; 10.828):
    * per-day arm counts under a 50/50 hash split, χ² = (n_c − n_t)²/n,
    * with a dosed logging outage that drops the whole treatment arm on
    * day 15 — the alarm must fire there and ONLY there. EXACT: the
    * statistic is one division of integer counts; the verdict compares
    * identical doubles. Streaming face: the SAME transform runs as a
    * structured-streaming aggregation (StreamingSpec parity) — SRM is
    * precisely the monitor one attaches to a live assignment stream.
    * Scale: one scan to |days| rows, map-side combinable. */
  val q376 = Q(
    "q376_stream_srm",
    (s, d) => srmDaily(Tables.load(s, d, "events")).orderBy(col("day")),
    Some("""
      WITH filtered AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                 AS TIMESTAMP) AS day,
               user_id % 2 AS arm
        FROM events
        WHERE NOT (day(CAST(ts AS TIMESTAMP)) = 15 AND user_id % 2 = 1)
      ), cells AS (
        SELECT day,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_c,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_t
        FROM filtered GROUP BY day
      )
      SELECT day, n_c, n_t,
             CAST((n_c - n_t) * (n_c - n_t) AS DOUBLE)
               / CAST(n_c + n_t AS DOUBLE) AS chi2,
             CAST((n_c - n_t) * (n_c - n_t) AS DOUBLE)
               / CAST(n_c + n_t AS DOUBLE) > 10.828 AS srm_alarm
      FROM cells
      ORDER BY day"""))

  /** q378: POSITION-BASED (U-SHAPED) ATTRIBUTION — the fourth and last
    * industry-standard model beside q126's last-touch, q292's Markov
    * removal effect and q339's Shapley: 40% of the credit to the FIRST
    * touch, 40% to the LAST, 20% split across the middles. Computed
    * over the first-occurrence-ordered DISTINCT-channel path to the
    * user's first conversion (k ≤ 4 channels), so every credit is an
    * exact INTEGER TWENTIETH: k=1 → 20, k=2 → 10/10, k=3 → 8/4/8,
    * k=4 → 8/2/2/8 (the 4 div (k−2) middle rule) — no per-journey
    * float, the q339 twelfths discipline at base 20. Conservation
    * (Σ credit20 = 20 per journey) is spec-gated. Scale: one per-user
    * window for the path rank, hash aggregates after. */
  val q378 = Q(
    "q378_position_attribution",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, d, "events")
      val firstConv = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("c"))
        .select(col("user_id"), col("c.ts").as("cts"),
          col("c.event_id").as("ceid"))
      val firstTouch = ev
        .join(firstConv, Seq("user_id"))
        .filter(col("event_type") =!= "purchase" &&
          (col("ts") < col("cts") ||
            (col("ts") === col("cts") && col("event_id") < col("ceid"))))
        .groupBy(col("user_id"), col("event_type").as("channel"))
        .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      val ranked = firstTouch
        .withColumn("rk", row_number().over(Window
          .partitionBy(col("user_id"))
          .orderBy(col("f.ts"), col("f.event_id")))
          .cast(org.apache.spark.sql.types.LongType))
        .withColumn("k", count(lit(1)).over(Window
          .partitionBy(col("user_id"))))
        .withColumn("credit20",
          when(col("k") === 1, 20L)
            .when(col("k") === 2, 10L)
            .when(col("rk") === 1 || col("rk") === col("k"), 8L)
            .otherwise(expr("4 div (k - 2)")))
      val tot = ranked.agg(sum(col("credit20")).as("tot20"))
      ranked.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_journeys"),
          sum(col("credit20")).as("credit20"))
        .crossJoin(broadcast(tot))
        .select(col("channel"), col("n_journeys"),
          (col("credit20").cast(DoubleType) / lit(20.0)).as("credit"),
          (col("credit20").cast(DoubleType) /
            col("tot20").cast(DoubleType)).as("credit_share"))
        .orderBy(col("channel"))
    },
    Some("""
      WITH first_conv AS (
        SELECT user_id, ts AS cts, event_id AS ceid FROM (
          SELECT user_id, ts, event_id,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
          FROM events WHERE event_type = 'purchase')
        WHERE rn = 1
      ), first_touch AS (
        -- the EARLIEST (ts, event_id) row per channel — a lexicographic
        -- arg-min like Spark's min(struct(ts, event_id)), NOT two
        -- independent mins (event ids need not rise with time)
        SELECT user_id, channel, fts, feid FROM (
          SELECT e.user_id, e.event_type AS channel,
                 e.ts AS fts, e.event_id AS feid,
                 row_number() OVER (PARTITION BY e.user_id, e.event_type
                   ORDER BY e.ts, e.event_id) AS rn
          FROM events e JOIN first_conv f ON e.user_id = f.user_id
          WHERE e.event_type <> 'purchase'
            AND (e.ts < f.cts OR (e.ts = f.cts AND e.event_id < f.ceid))
        ) t WHERE rn = 1
      ), ranked AS (
        SELECT user_id, channel,
               CAST(row_number() OVER (PARTITION BY user_id
                 ORDER BY fts, feid) AS BIGINT) AS rk,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS k
        FROM first_touch
      ), credits AS (
        SELECT channel,
               CASE WHEN k = 1 THEN 20
                    WHEN k = 2 THEN 10
                    WHEN rk = 1 OR rk = k THEN 8
                    ELSE 4 // (k - 2) END AS credit20
        FROM ranked
      ), tot AS (
        SELECT CAST(sum(credit20) AS BIGINT) AS tot20 FROM credits
      )
      SELECT channel, count(*) AS n_journeys,
             CAST(CAST(sum(credit20) AS BIGINT) AS DOUBLE) / 20.0
               AS credit,
             CAST(CAST(sum(credit20) AS BIGINT) AS DOUBLE)
               / CAST(tot20 AS DOUBLE) AS credit_share
      FROM credits CROSS JOIN tot
      GROUP BY channel, tot20
      ORDER BY channel"""))

  val all: Seq[Q] =
    Seq(q31, q33, q43, q44, q53, q108, q109, q112, q120, q123, q124, q125,
      q126, q129, q130, q132, q134, q135, q136, q137, q138, q140, q143,
      q148, q149, q150, q154, q160, q171, q175, q176, q185, q187, q191,
      q216, q288, q292, q339, q376, q378)
}
