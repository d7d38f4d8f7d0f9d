package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.Caches.Tracked

/** Standard OLAP surface beyond the reference's declared operators
  * (SURVEY §2.5 marks ranking/frames "available when needed", §2.4 marks
  * grouping sets out of parity scope): ranking and frame-based window
  * functions, CUBE grouping sets, pivot, and correlated subqueries — the
  * constructs a user switching from a general OLAP engine reaches for
  * next. All oracle-checked against DuckDB.
  */
object Olap {

  /** Fixture-independent time pivot: the last COMPLETE shipping year,
    * `year(max(l_shipdate)) − 1`, derived from the data itself — the
    * q207 scale-relative pattern applied to DATES (r5 audit: literal
    * `1997` pins would thin to triviality on a date-shifted fixture
    * regeneration without failing anything). One bounded 1-row
    * aggregate over a single pruned column (parquet row-group stats at
    * scale), memoized per fixture dir; the DuckDB twins derive the
    * SAME value via [[pivotYearSql]]'s scalar subquery, so both
    * engines stay in lockstep under ANY fixture dates. */
  private val pivotMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def lastFullYear(s: SparkSession, d: String): Int = {
    // memo key = dir + a filesystem stamp of the lineitem fixture
    // (XOR of mtime^length over its files — driver-side metadata, no
    // job): a fixture regenerated IN-PLACE changes the stamp, so a
    // stale pivot year can never be served within one JVM (the
    // pivotMemo latent, ADVICE r6 — path-only keys have no
    // invalidation story)
    val stamp = graft.FsStamp.of(
      new java.io.File(new java.io.File(d), "lineitem.parquet").toString)
    pivotMemo.computeIfAbsent(s"$d#$stamp", _ =>
      Tables.load(s, d, "lineitem")
        .agg(max(year(to_date(col("l_shipdate")))).as("y"))
        .head().getInt(0) - 1)
  }

  /** The DuckDB twin of [[lastFullYear]] — inline scalar subquery. */
  val pivotYearSql =
    "(SELECT year(max(CAST(l_shipdate AS DATE))) - 1 FROM lineitem)"

  /** Ranking + frame windows over a yearly rollup: rank / dense_rank /
    * ntile quartiles / first_value on one ordering, a 3-year moving
    * average via ROWS BETWEEN on another — two window specs over one
    * aggregate, the shape Catalyst plans as a single shuffle on the
    * partition key with two sorts. Determinism: every ORDER BY carries a
    * full tiebreak (yr), and the moving average divides an exact BIGINT
    * frame sum by the frame count (identical IEEE division both engines —
    * native window AVG would accumulate doubles in engine-specific
    * order). DuckDB's rank/ntile return BIGINT so the twin casts them to
    * Spark's INTEGER. */
  val q49 = Q(
    "q49_window_suite",
    (s, d) => {
      val yearly = Tables.load(s, d, "orders")
        .groupBy(
          col("o_orderpriority").as("pri"),
          year(col("o_orderdate")).as("yr"))
        .agg(
          count(lit(1)).as("n"),
          Det.dsum(col("o_totalprice")).as("total"))
      val wr = Window.partitionBy(col("pri")).orderBy(col("n").desc, col("yr"))
      val wy = Window.partitionBy(col("pri")).orderBy(col("yr"))
      val wf = wy.rowsBetween(-2, Window.currentRow)
      yearly.select(
        col("pri"), col("yr"), col("n"), col("total"),
        rank().over(wr).as("rnk"),
        dense_rank().over(wr).as("drnk"),
        ntile(4).over(wy).as("quartile"),
        first(col("yr")).over(wr).as("best_year"),
        (sum(col("n")).over(wf).cast(DoubleType) /
          count(lit(1)).over(wf)).as("moving_avg_n"))
        .orderBy(col("pri"), col("yr"))
    },
    Some(s"""
      WITH yearly AS (
        SELECT o_orderpriority AS pri,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               count(*) AS n,
               ${Det.dsumSql("o_totalprice")} AS total
        FROM orders GROUP BY pri, yr
      )
      SELECT pri, yr, n, total,
        CAST(rank() OVER wr AS INTEGER) AS rnk,
        CAST(dense_rank() OVER wr AS INTEGER) AS drnk,
        CAST(ntile(4) OVER wy AS INTEGER) AS quartile,
        first_value(yr) OVER wr AS best_year,
        CAST(sum(n) OVER wf AS DOUBLE) / count(*) OVER wf AS moving_avg_n
      FROM yearly
      WINDOW wr AS (PARTITION BY pri ORDER BY n DESC, yr),
             wy AS (PARTITION BY pri ORDER BY yr),
             wf AS (PARTITION BY pri ORDER BY yr
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY pri, yr"""))

  /** CUBE grouping sets (q46's ROLLUP sibling): all four combinations of
    * (year, status) subtotals in one pass — Spark expands to a single
    * Expand + hash aggregate, one shuffle regardless of the number of
    * grouping sets. gid + coalesced keys order the output because the
    * engines disagree on NULL sort order. */
  val q50 = Q(
    "q50_cube",
    (s, d) =>
      Tables.load(s, d, "orders")
        .withColumn("yr", year(col("o_orderdate")))
        .cube(col("yr"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          Det.dsum(col("o_totalprice")).as("total"),
          grouping_id(col("yr"), col("o_orderstatus")).as("gid"))
        .orderBy(
          col("gid"),
          coalesce(col("yr"), lit(-1)),
          coalesce(col("o_orderstatus"), lit(""))),
    Some(s"""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderstatus,
             count(*) AS n,
             ${Det.dsumSql("o_totalprice")} AS total,
             CAST(grouping(yr) * 2 + grouping(o_orderstatus) AS BIGINT)
               AS gid
      FROM orders
      GROUP BY CUBE (yr, o_orderstatus)
      ORDER BY gid, coalesce(yr, -1), coalesce(o_orderstatus, '')"""))

  /** Pivot: order-status categories rotated into columns (Spark's
    * relational pivot ≈ SQL conditional aggregation). Explicit pivot
    * values keep the plan a single aggregate — no extra values-discovery
    * job, and the fixed column set is what the SQL twin can mirror.
    * Missing combinations surface as 0, not NULL (count semantics in
    * both engines). */
  val q51 = Q(
    "q51_pivot",
    (s, d) =>
      Tables.load(s, d, "orders")
        .groupBy(col("o_orderpriority").as("pri"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("pri"),
          coalesce(col("F"), lit(0L)).as("status_f"),
          coalesce(col("O"), lit(0L)).as("status_o"),
          coalesce(col("P"), lit(0L)).as("status_p"))
        .orderBy(col("pri")),
    Some("""
      SELECT o_orderpriority AS pri,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
             count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
      FROM orders GROUP BY pri ORDER BY pri"""))

  /** Correlated subqueries through the same-SQL-text entry (q37's
    * methodology): a correlated EXISTS filter plus a correlated scalar
    * COUNT subquery, one string in the Spark∩DuckDB dialect intersection
    * run by BOTH engines. Catalyst decorrelates each into joins
    * (left-semi for EXISTS, aggregated left-outer for the scalar) — the
    * rewrite that makes correlated SQL runnable at scale instead of
    * per-row re-execution. */
  private val q52Sql = """
      SELECT n_name,
        (SELECT count(*) FROM customer c
          WHERE c.c_nationkey = n.n_nationkey) AS n_customers
      FROM nation n
      WHERE EXISTS (SELECT 1 FROM customer c2
                    WHERE c2.c_nationkey = n.n_nationkey
                      AND c2.c_acctbal > 9900)
      ORDER BY n_name"""

  val q52 = Q(
    "q52_subqueries",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql(q52Sql)
    },
    Some(q52Sql))

  /** Equi-width histogram (profiling surface, the reference's volume/
    * cardinality checks' missing sibling): order totals binned into 10
    * fixed-width buckets with the overflow clamped into the last. Bucket
    * assignment runs on exact integer cents with integer division —
    * no float boundary ambiguity between engines — and the whole thing
    * is one map-side-combinable aggregate: a single shuffle of ≤10 rows
    * regardless of table size. */
  val q55 = Q(
    "q55_histogram",
    (s, d) =>
      Tables.load(s, d, "orders")
        .select(
          expr("least(CAST(round(o_totalprice * 100) AS BIGINT) div 5000000," +
            " 9L)").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          Det.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("bucket")),
    Some(s"""
      WITH b AS (
        SELECT least(${Det.centsSql("o_totalprice")} // 5000000, 9)
                 AS bucket,
               o_totalprice
        FROM orders
      )
      SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
             ${Det.dsumSql("o_totalprice")} AS total
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** Hex-nibble decode of md5 char `i` (1-based) of `md5(prefix || key)`
    * — the engine-portable hash-decoding scheme shared with the q61/q69
    * oracles; identical text works in both dialects modulo
    * instr/strpos + substring/substr renames. */
  private def nibSpark(h: Int, keySql: String, i: Int): String =
    s"(instr('0123456789abcdef', substring(md5(concat('$h:', $keySql))" +
      s", $i, 1)) - 1)"
  private def nibDuck(h: Int, keySql: String, i: Int): String =
    s"(strpos('0123456789abcdef', substr(md5('$h:' || $keySql), $i, 1)) - 1)"

  /** 16-bit bloom bit position for hash `h` of `keySql` — mirrors
    * [[graft.functions.BloomMd5.bitPos]]. */
  private def bloomPosSpark(h: Int, keySql: String): String =
    s"(${nibSpark(h, keySql, 1)} * 4096 + ${nibSpark(h, keySql, 2)} * 256" +
      s" + ${nibSpark(h, keySql, 3)} * 16 + ${nibSpark(h, keySql, 4)})"
  private[graft] def bloomPosDuck(h: Int, keySql: String): String =
    s"(${nibDuck(h, keySql, 1)} * 4096 + ${nibDuck(h, keySql, 2)} * 256" +
      s" + ${nibDuck(h, keySql, 3)} * 16 + ${nibDuck(h, keySql, 4)})"

  /** Runtime bloom-filter join pruning (extension op): the build side's
    * join keys are aggregated into ONE 8 KB [[graft.functions.BloomMd5]]
    * sketch row, broadcast, and every probe row is tested against it —
    * the semi-join-reduction pattern (Spark's InjectRuntimeFilter /
    * sideways information passing) that at 100 TB drops probe rows
    * BEFORE the join shuffle instead of after it. Probe rows also carry
    * the exact membership (left-semi against the distinct build keys) so
    * the report quantifies the filter: false positives pay shuffle for
    * nothing (bounded by (1-e^(-K·n/M))^K), false negatives must be ZERO
    * (the bloom guarantee — asserted as a column the oracle also
    * computes). DuckDB reproduces the sketch words with bit_or over
    * per-key masks and replays every membership probe bit-exactly, the
    * same oracle discipline as the HLL/CMS sketches. */
  val q80 = Q(
    "q80_bloom_prune",
    (s, d) => {
      val key = "CAST(c_custkey AS STRING)"
      val hits = (0 until graft.functions.BloomMd5.K).map { h =>
        val p = bloomPosSpark(h, key)
        s"((element_at(bloom, CAST($p DIV 64 AS INT) + 1) & " +
          s"shiftleft(CAST(1 AS BIGINT), $p % 64)) != 0)"
      }
      val build = Tables.load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01") &&
          col("o_orderdate") < lit("1998-04-01"))
        .select(col("o_custkey"))
      val sketch = build
        .agg(graft.functions.BloomMd5
          .sketch(col("o_custkey").cast(StringType)).as("bloom"))
      Tables.load(s, d, "customer")
        .select(col("c_custkey"))
        .join(build.distinct(),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .select(
          col("c_custkey"), col("o_custkey").isNotNull.as("present"))
        .crossJoin(broadcast(sketch))
        .withColumn("member", expr(hits.mkString(" AND ")))
        .agg(
          count(lit(1)).as("n_probe"),
          sum(when(col("member"), 1L).otherwise(0L)).as("bloom_pass"),
          sum(when(col("present"), 1L).otherwise(0L)).as("exact_pass"),
          sum(when(col("member") && !col("present"), 1L).otherwise(0L))
            .as("false_pos"),
          sum(when(col("present") && !col("member"), 1L).otherwise(0L))
            .as("false_neg"))
    },
    Some {
      def pos(h: Int, key: String) = bloomPosDuck(h, key)
      val mask = (p: String) =>
        s"(CASE WHEN $p % 64 = 63 THEN (-9223372036854775807 - 1) " +
          s"ELSE (CAST(1 AS BIGINT) << ($p % 64)) END)"
      val buildPos = (0 until graft.functions.BloomMd5.K).map { h =>
        s"SELECT k, ${pos(h, "CAST(k AS VARCHAR)")} AS p FROM build"
      }.mkString(" UNION ALL ")
      val probePos = (0 until graft.functions.BloomMd5.K).map { h =>
        s"SELECT k, $h AS h, ${pos(h, "CAST(k AS VARCHAR)")} AS p FROM probe"
      }.mkString(" UNION ALL ")
      s"""
      WITH build AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE o_orderdate >= '1998-01-01' AND o_orderdate < '1998-04-01'
      ), probe AS (
        SELECT c_custkey AS k FROM customer
      ), bpos AS ( $buildPos
      ), words AS (
        SELECT p // 64 AS w, bit_or(${mask("p")}) AS word
        FROM bpos GROUP BY 1
      ), ppos AS ( $probePos
      ), hits AS (
        SELECT pp.k, count(*) AS nset
        FROM ppos pp JOIN words w ON w.w = pp.p // 64
        WHERE (w.word & ${mask("pp.p")}) <> 0
        GROUP BY pp.k
      ), flags AS (
        SELECT probe.k,
               coalesce(h.nset, 0) = ${graft.functions.BloomMd5.K}
                 AS member,
               EXISTS (SELECT 1 FROM build b WHERE b.k = probe.k)
                 AS present
        FROM probe LEFT JOIN hits h ON h.k = probe.k
      )
      SELECT count(*) AS n_probe,
             CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
               AS bloom_pass,
             CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_pass,
             CAST(sum(CASE WHEN member AND NOT present THEN 1 ELSE 0 END)
               AS BIGINT) AS false_pos,
             CAST(sum(CASE WHEN present AND NOT member THEN 1 ELSE 0 END)
               AS BIGINT) AS false_neg
      FROM flags"""
    })

  /** 16-bit Morton/Z-order interleave of two 8-bit dims, as SQL text for
    * either dialect: bit i of d1 → bit 2i+1, bit i of d2 → bit 2i.
    * Spark spells shifts as functions, DuckDB as operators; the integer
    * results are identical. */
  private[queries] def zkeySpark(d1: String, d2: String): String =
    (0 until 8).map { i =>
      s"shiftleft((shiftright($d1, $i) & 1), ${2 * i + 1}) + " +
        s"shiftleft((shiftright($d2, $i) & 1), ${2 * i})"
    }.mkString("(", " + ", ")")
  private[queries] def zkeyDuck(d1: String, d2: String): String =
    (0 until 8).map { i =>
      s"((($d1 >> $i) & 1) << ${2 * i + 1}) + ((($d2 >> $i) & 1) << ${2 * i})"
    }.mkString("(", " + ", ")")

  /** Z-ORDER clustering layout (extension op): interleave the bits of two
    * scan dimensions — order month (0..79 over the fixture's 1995-01..
    * 2001-08 domain) and total-price bucket (fixed-width 0..255 over the
    * generator's [0, 500k) price domain) — so that CONTIGUOUS ranges of
    * the sort key are squares in 2-D, not stripes. Rows are cut into
    * contiguous key-range buckets (what a range-partitioned writer would
    * put in one file; zkey DIV 4096 = an aligned 64×64 z-square, lkey
    * DIV 4096 = 16 full-price month stripes) under BOTH the z-order key
    * and the plain lexicographic key (month*256+price), and each bucket
    * reports its min/max span per dimension. On this domain that yields
    * 8 z-buckets spanning ≤ 64 months × ≤ 64 price units versus 5
    * linear buckets spanning 16 months × the FULL price domain — the
    * honest z-order tradeoff: a price-only predicate prunes z-buckets
    * (≤ 1/4 of the price domain each) but NO linear bucket, while a
    * month-only predicate prunes linear buckets more sharply (16-month
    * vs 64-month spans). Min/max-indexed scans (parquet row groups,
    * Delta/Iceberg file stats) turn those spans directly into skipped
    * files; balanced pruning on EITHER dim is why multi-dim layouts
    * z-order at 100 TB. Invisible at 60k rows, decisive at scale
    * (reference's engines expose the same idea as ORDER BY clustering +
    * min/max skipping granules, /root/reference/clickhouse/schema.sql).
    * Pure integer bit math → bit-exact in DuckDB. */
  val q81 = Q(
    "q81_zorder_layout",
    (s, d) => {
      val d1 = "CAST((year(o_orderdate) - 1995) * 12 " +
        "+ month(o_orderdate) - 1 AS INT)"
      val d2 = "CAST(least(CAST(round(o_totalprice * 100) AS BIGINT) " +
        "DIV 195313, 255) AS INT)"
      Tables.load(s, d, "orders")
        .select(
          expr(d1).as("m"), expr(d2).as("p"))
        .select(
          col("m"), col("p"),
          expr(zkeySpark("m", "p")).as("zkey"),
          (col("m") * 256 + col("p")).as("lkey"))
        // one scan feeds both layouts: explode a 2-element array instead
        // of a self-union (a union re-reads orders — doubled IO at scale)
        .select(
          col("m"), col("p"),
          explode(array(
            struct(
              lit("zorder").as("layout"),
              floor(col("zkey").cast(LongType) / 4096)
                .cast(LongType).as("bucket")),
            struct(
              lit("linear").as("layout"),
              floor(col("lkey").cast(LongType) / 4096)
                .cast(LongType).as("bucket")))).as("lb"))
        .select(
          col("lb.layout").as("layout"), col("lb.bucket").as("bucket"),
          col("m"), col("p"))
        .groupBy(col("layout"), col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          min(col("m")).cast(LongType).as("m_min"),
          max(col("m")).cast(LongType).as("m_max"),
          min(col("p")).cast(LongType).as("p_min"),
          max(col("p")).cast(LongType).as("p_max"))
        .orderBy(col("layout"), col("bucket"))
    },
    Some {
      val d1 = "CAST((year(o_orderdate) - 1995) * 12 " +
        "+ month(o_orderdate) - 1 AS INT)"
      val d2 = "CAST(least(CAST(round(o_totalprice * 100) AS BIGINT) " +
        "// 195313, 255) AS INT)"
      s"""
      WITH dims AS (
        SELECT $d1 AS m, $d2 AS p FROM orders
      ), keyed AS (
        SELECT m, p, ${zkeyDuck("m", "p")} AS zkey,
               m * 256 + p AS lkey
        FROM dims
      ), layouts AS (
        SELECT 'zorder' AS layout, zkey // 4096 AS bucket, m, p FROM keyed
        UNION ALL
        SELECT 'linear' AS layout, lkey // 4096 AS bucket, m, p FROM keyed
      )
      SELECT layout, CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
             CAST(min(m) AS BIGINT) AS m_min, CAST(max(m) AS BIGINT) AS m_max,
             CAST(min(p) AS BIGINT) AS p_min, CAST(max(p) AS BIGINT) AS p_max
      FROM layouts GROUP BY layout, bucket ORDER BY layout, bucket"""
    })

  /** Explicit GROUPING SETS — the general form q46's ROLLUP and q50's
    * CUBE are sugar over: a hand-picked lattice ((pri, yr), (pri), ())
    * that computes exactly the three aggregation levels a report needs
    * and nothing else (CUBE would add the (yr) level nobody asked for —
    * at 100 TB each extra grouping set is another full map-side
    * aggregate). Spark plans one Expand + one aggregate, same as
    * rollup/cube; grouping_id disambiguates levels in the output. */
  val q100 = Q(
    "q100_grouping_sets",
    (s, d) =>
      Tables.load(s, d, "orders")
        .withColumn("pri", col("o_orderpriority"))
        .withColumn("yr", year(col("o_orderdate")))
        .groupingSets(
          Seq(Seq(col("pri"), col("yr")), Seq(col("pri")), Seq()),
          col("pri"), col("yr"))
        .agg(
          count(lit(1)).as("n"),
          Det.dsum(col("o_totalprice")).as("total"),
          grouping_id(col("pri"), col("yr")).as("gid"))
        .orderBy(
          col("gid"),
          coalesce(col("pri"), lit("")),
          coalesce(col("yr"), lit(-1))),
    Some(s"""
      SELECT o_orderpriority AS pri,
             CAST(year(o_orderdate) AS INTEGER) AS yr,
             count(*) AS n,
             ${Det.dsumSql("o_totalprice")} AS total,
             CAST(grouping(pri) * 2 + grouping(yr) AS BIGINT) AS gid
      FROM orders
      GROUP BY GROUPING SETS ((pri, yr), (pri), ())
      ORDER BY gid, coalesce(pri, ''), coalesce(yr, -1)"""))

  /** The remaining ANSI window functions q49 leaves out: lead,
    * percent_rank, cume_dist, nth_value, last_value. percent_rank and
    * cume_dist are ratios of integer ranks — one IEEE division of
    * identical operands per row, bit-exact cross-engine; nth_value and
    * last_value run over the explicit full-partition frame so both
    * engines see the same (ANSI default frames differ in subtle ways —
    * pin it). Every ordering carries a full tiebreak. */
  val q101 = Q(
    "q101_window_extras",
    (s, d) => {
      val yearly = Tables.load(s, d, "orders")
        .groupBy(
          col("o_orderpriority").as("pri"),
          year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n"))
      val wy = Window.partitionBy(col("pri")).orderBy(col("yr"))
      val wn = Window.partitionBy(col("pri")).orderBy(col("n"), col("yr"))
      val wrFull = Window.partitionBy(col("pri"))
        .orderBy(col("n").desc, col("yr"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      yearly.select(
        col("pri"), col("yr"), col("n"),
        lead(col("n"), 1).over(wy).as("next_n"),
        percent_rank().over(wn).as("pct_rank"),
        cume_dist().over(wn).as("cume"),
        nth_value(col("yr"), 2).over(wrFull).as("second_best_yr"),
        last(col("yr")).over(wrFull).as("worst_yr"))
        .orderBy(col("pri"), col("yr"))
    },
    Some("""
      WITH yearly AS (
        SELECT o_orderpriority AS pri,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               count(*) AS n
        FROM orders GROUP BY pri, yr
      )
      SELECT pri, yr, n,
             lead(n, 1) OVER wy AS next_n,
             percent_rank() OVER wn AS pct_rank,
             cume_dist() OVER wn AS cume,
             nth_value(yr, 2) OVER wr AS second_best_yr,
             last_value(yr) OVER wr AS worst_yr
      FROM yearly
      WINDOW wy AS (PARTITION BY pri ORDER BY yr),
             wn AS (PARTITION BY pri ORDER BY n, yr),
             wr AS (PARTITION BY pri ORDER BY n DESC, yr
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING)
      ORDER BY pri, yr"""))

  /** Recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4): a
    * calendar dimension generated by bounded integer recursion, left-joined
    * to the monthly order counts so gap months surface as zero — the
    * classic series-densification query no plain SELECT can express.
    * Same-SQL-text form (like q37): Spark executes the oracle string
    * verbatim, so the differential check covers Spark's recursion
    * execution itself. Scale: recursion depth is a constant 80 (bounded
    * by the calendar, not the data); the fact side is one
    * map-side-combined aggregate, and the 80-row calendar broadcasts. */
  // the 79-step bound spans exactly 80 months = 1995-01..2001-08, the
  // fixture's o_orderdate range (TESTDATA.md); orders outside the window
  // would drop out of the calendar-side LEFT JOIN identically in both
  // engines, which the oracle cannot catch — OlapSpec's order-count
  // conservation test is the guard, and a fixture date-span change must
  // update this bound together with that test (round-3 advice)
  private val q102Sql = """
      WITH RECURSIVE k(i) AS (
        SELECT 0
        UNION ALL
        SELECT i + 1 FROM k WHERE i < 79
      ), cal AS (
        SELECT make_date(1995 + CAST((i - (i % 12)) / 12 AS INTEGER),
                         1 + i % 12, 1) AS month_start
        FROM k
      ), m AS (
        SELECT make_date(CAST(year(o_orderdate) AS INTEGER),
                         CAST(month(o_orderdate) AS INTEGER), 1) AS month_start,
               count(*) AS n_orders
        FROM orders GROUP BY 1
      )
      SELECT cal.month_start AS month_start,
             coalesce(m.n_orders, CAST(0 AS BIGINT)) AS n_orders
      FROM cal LEFT JOIN m ON cal.month_start = m.month_start
      ORDER BY month_start"""

  val q102 = Q(
    "q102_recursive_cte",
    (s, d) => {
      graft.Tables.registerAll(s, d)
      s.sql(q102Sql)
    },
    Some(q102Sql))

  /** q174: bill-of-materials explosion — the OTHER recursive-CTE
    * workload class: q102 recurses over a GENERATOR (bounded integer
    * sequence, no data); this recurses over a TABLE, joining the
    * frontier to an edge relation every level and multiplying
    * per-level quantities down the tree — the part-containment rollup
    * every MRP system runs, and the same shape as org-chart and
    * reachability queries. Edges are synthesized deterministically
    * from the part key (two children per part via affine maps mod
    * |parts|, carrying quantities 2 and 3), roots are the key%97
    * slice, and depth is bounded at 3 (the affine maps can form
    * cycles; the level bound is the standard BOM guard and keeps the
    * frontier ≤ 2³ per root). SAME SQL text runs on Spark (4.x
    * WITH RECURSIVE — recursion execution itself is differentially
    * checked, the q102 argument, now with a JOIN in the recursive
    * step) and DuckDB. Scale: each recursion level is one
    * frontier⋈edges shuffle; the frontier is roots×2^lvl rows, never
    * corpus-sized. */
  private val q174Sql = """
      WITH RECURSIVE edges AS (
        SELECT CAST(p_partkey AS BIGINT) AS parent,
               CAST((p_partkey * 3 + 11) %
                 (SELECT max(p_partkey) + 1 FROM part) AS BIGINT) AS child,
               CAST(2 AS BIGINT) AS q
        FROM part
        UNION ALL
        SELECT CAST(p_partkey AS BIGINT),
               CAST((p_partkey * 5 + 7) %
                 (SELECT max(p_partkey) + 1 FROM part) AS BIGINT),
               CAST(3 AS BIGINT)
        FROM part
      ), bom AS (
        SELECT CAST(p_partkey AS BIGINT) AS root,
               CAST(p_partkey AS BIGINT) AS node,
               CAST(1 AS BIGINT) AS qty, 0 AS lvl
        FROM part WHERE p_partkey % 97 = 0
        UNION ALL
        SELECT b.root, e.child, b.qty * e.q, b.lvl + 1
        FROM bom b JOIN edges e ON e.parent = b.node
        WHERE b.lvl < 3
      )
      SELECT root, lvl, count(*) AS n_nodes,
             CAST(sum(qty) AS BIGINT) AS total_qty,
             CAST(count(DISTINCT node) AS BIGINT) AS n_distinct_parts
      FROM bom
      GROUP BY root, lvl
      ORDER BY root, lvl"""

  val q174 = Q(
    "q174_bom_explosion",
    (s, d) => {
      graft.Tables.registerAll(s, d)
      s.sql(q174Sql)
    },
    Some(q174Sql))

  /** Wide-to-long UNPIVOT (Dataset.unpivot): per-priority metric columns
    * melted into (metric, value) rows — the reshape every metrics export
    * needs. All value columns are cast to DOUBLE first (unpivot requires
    * a common type; the totals ride the exact Det.dsum decimal path
    * before the final cast). The oracle replays the melt as a 3-way
    * UNION ALL over one CTE — semantically what unpivot is. Scale: the
    * aggregate is one shuffle; the melt is a per-row projection. */
  val q103 = Q(
    "q103_unpivot",
    (s, d) => {
      val wide = Tables.load(s, d, "orders")
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("total_price"),
          max(col("o_totalprice")).cast(DoubleType).as("max_price"))
      wide.unpivot(
        Array(col("pri")),
        Array(col("n_orders"), col("total_price"), col("max_price")),
        "metric", "value")
        .orderBy(col("pri"), col("metric"))
    },
    Some(s"""
      WITH wide AS (
        SELECT o_orderpriority AS pri,
               CAST(count(*) AS DOUBLE) AS n_orders,
               ${Det.dsumSql("o_totalprice")} AS total_price,
               CAST(max(o_totalprice) AS DOUBLE) AS max_price
        FROM orders GROUP BY pri
      )
      SELECT pri, 'n_orders' AS metric, n_orders AS value FROM wide
      UNION ALL SELECT pri, 'total_price', total_price FROM wide
      UNION ALL SELECT pri, 'max_price', max_price FROM wide
      ORDER BY pri, metric"""))

  /** Generator / LATERAL VIEW surface: posexplode over the token array,
    * emitting (pos, tok) rows — the explode operator made an explicit
    * registry entry (q42/q56 use it internally). The array is sliced to
    * the first 3 tokens BEFORE the generate, so the row explosion is
    * bounded per document regardless of document length — at 100 TB the
    * generate fans out 3 rows/doc, not len(doc). The oracle indexes the
    * list positionally (toks[1..3]) — same semantics without a lateral
    * join. */
  val q105 = Q(
    "q105_lateral_explode",
    (s, d) =>
      Tables.load(s, d, "documents")
        .withColumn("toks", slice(split(col("text"), " "), 1, 3))
        .select(
          col("doc_id"),
          posexplode(col("toks")).as(Seq("pos", "tok")))
        .orderBy(col("doc_id"), col("pos")),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      )
      SELECT doc_id, 0 AS pos, toks[1] AS tok FROM t WHERE len(toks) >= 1
      UNION ALL SELECT doc_id, 1, toks[2] FROM t WHERE len(toks) >= 2
      UNION ALL SELECT doc_id, 2, toks[3] FROM t WHERE len(toks) >= 3
      ORDER BY doc_id, pos"""))

  /** Closed-form OLS trend fit (the ClickHouse simpleLinearRegression
    * capability): per priority, regress monthly order volume on the
    * month index. All four moments (Sx, Sy, Sxy, Sxx) are exact BIGINT
    * sums — order-independent — and the slope/intercept are single IEEE
    * divisions of identical integer operands, so both engines emit
    * bit-identical doubles (the q48 dispersion discipline applied to
    * regression). One aggregate for the monthly rollup, one for the
    * moments; nothing leaves the executor until the 5-row result. */
  val q113 = Q(
    "q113_linfit",
    (s, d) => {
      val monthly = Tables.load(s, d, "orders")
        .groupBy(
          col("o_orderpriority").as("pri"),
          ((year(col("o_orderdate")) - lit(1995)) * 12 +
            month(col("o_orderdate")) - lit(1)).cast(LongType).as("x"))
        .agg(count(lit(1)).as("y"))
      monthly.groupBy(col("pri"))
        .agg(
          count(lit(1)).as("n_months"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        // a single-month group has zero x-variance and the engines
        // disagree on 0-divisors (Spark NULL vs DuckDB IEEE inf) —
        // a fit needs >= 2 points anyway
        .filter(col("n_months") >= 2)
        // slope once, intercept referencing it — one source of truth
        // for the moment formula (same plan either way)
        .withColumn(
          "slope",
          (col("n_months") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType) /
            (col("n_months") * col("sxx") - col("sx") * col("sx")))
        .select(
          col("pri"), col("n_months"), col("slope"),
          ((col("sy").cast(DoubleType) - col("slope") * col("sx")) /
            col("n_months")).as("intercept"))
        .orderBy(col("pri"))
    },
    Some("""
      WITH monthly AS (
        SELECT o_orderpriority AS pri,
               CAST((year(o_orderdate) - 1995) * 12
                    + month(o_orderdate) - 1 AS BIGINT) AS x,
               count(*) AS y
        FROM orders GROUP BY pri, x
      ), m AS (
        SELECT pri,
               count(*) AS n_months,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM monthly GROUP BY pri
        HAVING count(*) >= 2
      ), fit AS (
        SELECT pri, n_months, sx, sy,
               CAST(n_months * sxy - sx * sy AS DOUBLE)
                 / (n_months * sxx - sx * sx) AS slope
        FROM m
      )
      SELECT pri, n_months, slope,
             (CAST(sy AS DOUBLE) - slope * sx) / n_months AS intercept
      FROM fit ORDER BY pri"""))

  /** q131: the TPC-H Q5 shape — a six-table star join (lineitem ⋈ orders
    * ⋈ customer ⋈ supplier ⋈ nation ⋈ region) with the local-supplier
    * correlation (c_nationkey = s_nationkey), a region filter that prunes
    * through THREE dimension hops, and a two-year date filter pushed to
    * the orders scan. The deepest join tree in the suite: Catalyst plans
    * the four dimension sides as stacked broadcasts around the one
    * fact-fact shuffle (lineitem ⋈ orders), which is exactly the 100-TB
    * shape — dimensions stay broadcast-sized while facts shuffle once.
    * Revenue is exact integer arithmetic: cents(extendedprice) ×
    * (100 − discount-percent) accumulates in BIGINT units of 10⁻⁴, so the
    * only float op is one final division of identical integers. */
  val q131 = Q(
    "q131_star_join",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val ord = Tables.load(s, d, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val cust = Tables.load(s, d, "customer")
      val supp = Tables.load(s, d, "supplier")
      val nat = Tables.load(s, d, "nation")
      val reg = Tables.load(s, d, "region")
        .filter(col("r_name") === "ASIA")
      val revU = Det.cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast(LongType))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_items"),
          (sum(revU).cast(DoubleType) / lit(10000.0)).as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    },
    Some("""
      SELECT n_name, count(*) AS n_items,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
                   AND c_nationkey = s_nationkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""))

  /** q133: robust outlier detection — median/MAD (the robust z-score
    * family q115's winsorizing belongs to): per event type, the exact
    * lower median of integer cents, the exact median absolute deviation,
    * and the count of |x − med| > 3·MAD outliers. EVERYTHING is integer
    * arithmetic — medians use q115's pure-integer position discipline
    * ((n·50+99) div 100 over a (cents, event_id) total order), deviations
    * and the 3·MAD threshold compare BIGINTs — so both engines agree
    * bit-for-bit; the only doubles are presentation divisions. Per-type
    * ranking windows are category-bounded (the q115 shape). */
  val q133 = Q(
    "q133_mad_outliers",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(
          col("event_type"), col("event_id"),
          Det.cents(col("value")).as("cents"))
      val w1 = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))
      val ranked = ev.withColumn("rn", row_number().over(w1))
        .persistTracked()
      val counts = ranked.groupBy(col("event_type"))
        .agg(max(col("rn")).cast(LongType).as("n"))
      val med = ranked.join(counts, Seq("event_type"))
        .filter(col("rn") === expr("(n * 50 + 99) div 100"))
        .select(col("event_type"), col("cents").as("med_cents"))
      val dev = ranked.join(med, Seq("event_type"))
        .withColumn("ad", abs(col("cents") - col("med_cents")))
      val w2 = Window.partitionBy(col("event_type"))
        .orderBy(col("ad"), col("event_id"))
      val ranked2 = dev.withColumn("rn2", row_number().over(w2))
        .persistTracked()
      val mad = ranked2.join(counts, Seq("event_type"))
        .filter(col("rn2") === expr("(n * 50 + 99) div 100"))
        .select(col("event_type"), col("ad").as("mad_cents"))
      ranked2.join(mad, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          (min(col("med_cents")).cast(DoubleType) / lit(100.0))
            .as("med_value"),
          (min(col("mad_cents")).cast(DoubleType) / lit(100.0))
            .as("mad_value"),
          sum(when(col("ad") > lit(3L) * col("mad_cents"), lit(1L))
            .otherwise(lit(0L))).as("n_outliers"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH c AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
      ), r1 AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY cents, event_id) AS rn
        FROM c
      ), cnt AS (
        SELECT event_type, CAST(max(rn) AS BIGINT) AS n FROM r1 GROUP BY 1
      ), med AS (
        SELECT r1.event_type, r1.cents AS med_cents
        FROM r1 JOIN cnt USING (event_type)
        WHERE rn = (n * 50 + 99) // 100
      ), dev AS (
        SELECT c.event_type, c.event_id, c.cents, med_cents,
               abs(c.cents - med_cents) AS ad
        FROM c JOIN med USING (event_type)
      ), r2 AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY ad, event_id) AS rn2
        FROM dev
      ), mad AS (
        SELECT r2.event_type, r2.ad AS mad_cents
        FROM r2 JOIN cnt USING (event_type)
        WHERE rn2 = (n * 50 + 99) // 100
      )
      SELECT d.event_type, count(*) AS n,
             CAST(min(med_cents) AS DOUBLE) / CAST(100 AS DOUBLE)
               AS med_value,
             CAST(min(mad_cents) AS DOUBLE) / CAST(100 AS DOUBLE)
               AS mad_value,
             CAST(sum(CASE WHEN d.ad > 3 * mad_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers
      FROM dev d JOIN mad USING (event_type)
      GROUP BY d.event_type ORDER BY d.event_type"""))

  /** q139: TPC-H Q8-shape market share — the role-playing-dimension
    * pattern q131's star doesn't cover: NATION joins TWICE under
    * different roles (the customer's nation routes the region filter,
    * the supplier's nation is the market-share subject), plus a part-type
    * slice and a share-of-total conditional aggregate. Revenue stays in
    * exact BIGINT 10⁻⁴ units (the q131 discipline); the share is ONE IEEE
    * division of two such integers (conditional sum / total sum), so
    * every double is bit-identical cross-engine. Scale: all five
    * dimension legs broadcast (part is the largest and still
    * dimension-sized); the lineitem↔orders shuffle is the only big
    * exchange — the Q8 topology a 100-TB star wants. */
  val q139 = Q(
    "q139_market_share",
    (s, d) => {
      val revU = Det.cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast(LongType))
      val li = Tables.load(s, d, "lineitem")
      val ord = Tables.load(s, d, "orders")
      val part = Tables.load(s, d, "part")
        .filter(col("p_type") === "PROMO")
      val cust = Tables.load(s, d, "customer")
      val supp = Tables.load(s, d, "supplier")
      val natC = Tables.load(s, d, "nation")
        .select(col("n_nationkey").as("cn_key"),
          col("n_regionkey").as("cn_region"))
      val natS = Tables.load(s, d, "nation")
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))
      val reg = Tables.load(s, d, "region")
        .filter(col("r_name") === "ASIA")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(natC), col("c_nationkey") === col("cn_key"))
        .join(broadcast(reg), col("cn_region") === col("r_regionkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_2", revU)
            .otherwise(lit(0L))).as("nation_u"),
          sum(revU).as("total_u"))
        .select(
          col("o_year"),
          (col("total_u").cast(DoubleType) / lit(10000.0))
            .as("total_revenue"),
          (col("nation_u").cast(DoubleType)
            / col("total_u").cast(DoubleType)).as("mkt_share"))
        .orderBy(col("o_year"))
    },
    Some("""
      WITH joined AS (
        SELECT year(o_orderdate) AS o_year,
               CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      )
      SELECT o_year,
             CAST(CAST(sum(rev_u) AS BIGINT) AS DOUBLE)
               / CAST(10000 AS DOUBLE) AS total_revenue,
             CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_2'
                                THEN rev_u ELSE 0 END) AS BIGINT) AS DOUBLE)
               / CAST(CAST(sum(rev_u) AS BIGINT) AS DOUBLE) AS mkt_share
      FROM joined
      GROUP BY o_year ORDER BY o_year"""))

  /** q141: global decile (NTILE) analysis — the one ANSI window function
    * q49/q101 leave out, and deliberately NOT as a window: a corpus-wide
    * `ntile(10) OVER (ORDER BY …)` is a single-partition sort — the
    * anti-scale shape. Instead the global rank comes from
    * [[graft.operators.GlobalOrder.withOrderedCumsum]] (range partition +
    * per-partition cumsum + broadcast offsets) and the bucket from the
    * EXACT ANSI NTILE formula (first n mod k buckets get ⌈n/k⌉ rows,
    * the rest ⌊n/k⌋) in pure integer arithmetic. The oracle uses
    * DuckDB's NATIVE ntile(10), so agreement proves both the formula and
    * the distributed rank. Aggregates per decile are exact cents. */
  val q141 = Q(
    "q141_decile_analysis",
    (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"),
          Det.cents(col("o_totalprice")).as("cents"))
      val ranked = graft.operators.GlobalOrder.withOrderedCumsum(
        o, Seq(col("cents"), col("o_orderkey")), lit(1L), "rk")
      val tot = ranked.agg(max(col("rk")).as("n"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("decile", graft.operators.GlobalOrder
          .ntileFromRank(col("rk"), col("n"), 10))
        .groupBy(col("decile"))
        .agg(
          count(lit(1)).as("n_orders"),
          (sum(col("cents")).cast(DoubleType) / lit(100.0)).as("sum_value"),
          (min(col("cents")).cast(DoubleType) / lit(100.0)).as("lo_value"),
          (max(col("cents")).cast(DoubleType) / lit(100.0)).as("hi_value"))
        .orderBy(col("decile"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
      ), nt AS (
        SELECT cents,
               ntile(10) OVER (ORDER BY cents, o_orderkey) AS decile
        FROM o
      )
      SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_orders,
             CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS sum_value,
             CAST(min(cents) AS DOUBLE) / CAST(100 AS DOUBLE) AS lo_value,
             CAST(max(cents) AS DOUBLE) / CAST(100 AS DOUBLE) AS hi_value
      FROM nt GROUP BY 1 ORDER BY 1"""))

  /** q142: TPC-H Q17 shape — small-quantity-order revenue: lineitems of
    * one brand whose quantity is below 20% of that part's average
    * quantity, reported as average yearly revenue. The classic
    * CORRELATED scalar-aggregate subquery; our plan is the decorrelated
    * rewrite (per-part aggregate + join) while the ORACLE keeps the
    * correlated form — agreement checks the decorrelation. The 0.2·avg
    * threshold is EXACT integer arithmetic: qty < sum/(5·cnt) ⟺
    * 5·qty·cnt < sum (quantities are integral, cnt ≤ part fan-in), so
    * no double compare sits on a boundary. Scale: the per-part aggregate
    * shuffles lineitem once on l_partkey and joins back co-partitioned;
    * the brand dimension leg broadcasts. */
  val q142 = Q(
    "q142_small_qty_revenue",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_partkey"),
          round(col("l_quantity")).cast(LongType).as("qty"),
          Det.cents(col("l_extendedprice")).as("price_c"))
      val brandParts = Tables.load(s, d, "part")
        .filter(col("p_brand") === "Brand#12")
        .select(col("p_partkey"))
      val perPart = li.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sum_q"), count(lit(1)).as("cnt_q"))
      li.join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        .join(perPart, Seq("l_partkey"))
        .filter(col("qty") * lit(5L) * col("cnt_q") < col("sum_q"))
        .agg((sum(col("price_c")).cast(DoubleType) / lit(700.0))
          .as("avg_yearly"))
    },
    Some("""
      SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / CAST(700 AS DOUBLE) AS avg_yearly
      FROM lineitem l
      JOIN part ON l.l_partkey = p_partkey
      WHERE p_brand = 'Brand#12'
        AND CAST(round(l.l_quantity) AS BIGINT) * 5
            * (SELECT count(*) FROM lineitem i
               WHERE i.l_partkey = l.l_partkey)
          < (SELECT CAST(sum(CAST(round(i.l_quantity) AS BIGINT))
                         AS BIGINT)
             FROM lineitem i WHERE i.l_partkey = l.l_partkey)"""))

  /** q144: market-basket affinity — association mining ("frequently
    * bought together"): for part pairs co-occurring in ≥3 orders, the
    * lift n_ab·N / (n_a·n_b), top-25. The pair space comes from a
    * BOUNDED per-order set explode (baskets hold ≤ tens of distinct
    * parts ⇒ ≤ C(k,2) pairs per order — the q137 rewrite, never a
    * lineitem self-join); the ORACLE does the naive self-join, so
    * agreement differentially checks the explode. Lift is ONE IEEE
    * division of exact integer products; ordering carries a full
    * (lift, a, b) tiebreak. */
  val q144 = Q(
    "q144_basket_affinity",
    (s, d) => {
      val op = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .persistTracked()
      val partN = op.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_part"))
      val totalN = op.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      val pairs = op.groupBy(col("l_orderkey"))
        .agg(expr("sort_array(collect_set(l_partkey))").as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
               transform(slice(ps, i + 2, size(ps)),
                 y -> struct(x AS a, y AS b))))""")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      pairs
        .join(partN.select(col("l_partkey").as("a"),
            col("n_part").as("n_a")), Seq("a"))
        .join(partN.select(col("l_partkey").as("b"),
            col("n_part").as("n_b")), Seq("b"))
        .crossJoin(broadcast(totalN))
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          ((col("n_ab") * col("n_orders")).cast(DoubleType)
            / (col("n_a") * col("n_b")).cast(DoubleType)).as("lift"))
        .orderBy(desc("lift"), col("a"), col("b"))
        .limit(25)
    },
    Some("""
      WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      ), pn AS (
        SELECT l_partkey, count(*) AS n_part FROM op GROUP BY 1
      ), tot AS (
        SELECT count(DISTINCT l_orderkey) AS n_orders FROM op
      ), pairs AS (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n_ab
        FROM op x JOIN op y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 3
      )
      SELECT a, b, n_ab, pa.n_part AS n_a, pb.n_part AS n_b,
             CAST(n_ab * n_orders AS DOUBLE)
               / CAST(pa.n_part * pb.n_part AS DOUBLE) AS lift
      FROM pairs
      JOIN pn pa ON pa.l_partkey = a
      JOIN pn pb ON pb.l_partkey = b
      CROSS JOIN tot
      ORDER BY lift DESC, a, b
      LIMIT 25"""))

  /** q145: TPC-H Q22 shape — "wealthy idle customers": customers whose
    * balance beats the average POSITIVE balance (a global scalar
    * subquery) and who have placed no RECENT orders (anti-join against
    * the date-filtered order set — lapsed high-value accounts), rolled
    * up by nation. Completes the classic TPC-H shape set (Q1 q01 scan-agg,
    * Q5 q131 star, Q8 q139 role-playing dims, Q17 q142 correlated agg,
    * Q22 anti-join + global scalar). The threshold compare is EXACT:
    * cents·n_pos > sum_pos_cents ⟺ bal > avg(positive) — no double sits
    * on the boundary. The oracle keeps the textbook scalar-subquery +
    * NOT EXISTS form; our plan is a 1-row broadcast + LeftAnti — their
    * agreement checks Spark's and our decorrelation against DuckDB's.
    * Scale: anti-join shuffles on the key; everything else broadcasts. */
  val q145 = Q(
    "q145_idle_customers",
    (s, d) => {
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          Det.cents(col("c_acctbal")).as("bal_c"))
      val posStats = cust.filter(col("bal_c") > 0)
        .agg(sum(col("bal_c")).as("pos_sum"),
          count(lit(1)).as("pos_n"))
      val orders = Tables.load(s, d, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
        .select(col("o_custkey"))
      val nat = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      cust.crossJoin(broadcast(posStats))
        .filter(col("bal_c") * col("pos_n") > col("pos_sum"))
        .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          (sum(col("bal_c")).cast(DoubleType) / lit(100.0)).as("total_bal"))
        .orderBy(col("n_name"))
    },
    Some("""
      SELECT n_name, count(*) AS n_cust,
             CAST(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                  AS BIGINT) AS DOUBLE) / CAST(100 AS DOUBLE) AS total_bal
      FROM customer c JOIN nation ON c_nationkey = n_nationkey
      WHERE CAST(round(c_acctbal * 100) AS BIGINT)
            * (SELECT count(*) FROM customer
               WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0)
          > (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                    AS BIGINT) FROM customer
             WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2000-01-01')
      GROUP BY n_name
      ORDER BY n_name"""))

  /** q146: Pareto / ABC analysis — the inventory-classification standard:
    * parts ranked by revenue, classified A while the RUNNING revenue
    * share is ≤80%, B to 95%, C beyond; reported per class. The running
    * share needs a corpus-wide ordered cumsum — done scale-safe via
    * [[graft.operators.GlobalOrder.withOrderedCumsum]] (range partition
    * + broadcast offsets, q141's rank machinery with value = revenue),
    * never a single-partition window. Class thresholds compare exact
    * integers (cum·100 ≤ 80·total); shares are IEEE divisions of
    * identical integers. The oracle uses a plain window cumsum — fine in
    * DuckDB, the anti-scale shape our rewrite avoids. */
  val q146 = Q(
    "q146_abc_analysis",
    (s, d) => {
      val rev = Tables.load(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(Det.cents(col("l_extendedprice"))).as("rev_c"))
      val cum = graft.operators.GlobalOrder.withOrderedCumsum(
        rev, Seq(col("rev_c").desc, col("l_partkey")), col("rev_c"),
        "cum_c")
      val tot = cum.agg(max(col("cum_c")).as("tot_c"))
      cum.crossJoin(broadcast(tot))
        .withColumn("cls",
          when(col("cum_c") * 100 <= col("tot_c") * 80, "A")
            .when(col("cum_c") * 100 <= col("tot_c") * 95, "B")
            .otherwise(lit("C")))
        .groupBy(col("cls"))
        .agg(
          count(lit(1)).as("n_parts"),
          (sum(col("rev_c")).cast(DoubleType) / lit(100.0)).as("revenue"),
          (sum(col("rev_c")).cast(DoubleType)
            / max(col("tot_c")).cast(DoubleType)).as("rev_share"))
        .orderBy(col("cls"))
    },
    Some("""
      WITH rev AS (
        SELECT l_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM lineitem GROUP BY 1
      ), cum AS (
        SELECT l_partkey, rev_c,
               CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
        FROM rev
      ), tot AS (
        SELECT CAST(sum(rev_c) AS BIGINT) AS tot_c FROM rev
      )
      SELECT CASE WHEN cum_c * 100 <= tot_c * 80 THEN 'A'
                  WHEN cum_c * 100 <= tot_c * 95 THEN 'B'
                  ELSE 'C' END AS cls,
             count(*) AS n_parts,
             CAST(CAST(sum(rev_c) AS BIGINT) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS revenue,
             CAST(CAST(sum(rev_c) AS BIGINT) AS DOUBLE)
               / CAST(max(tot_c) AS DOUBLE) AS rev_share
      FROM cum, tot
      GROUP BY 1 ORDER BY 1"""))

  /** q147: shipping-delay percentiles — the fulfillment-latency SLA
    * report (supply-chain face of the q04 percentile discipline): per
    * order priority, exact p50/p90 of datediff(ship, order) plus the
    * ship-before-order anomaly count (the fixture's ship dates are
    * synthetic, so negatives exist — reported as the data-quality column
    * a real latency audit carries). Positions are q115's pure-integer
    * ceil ranks over a (delay, orderkey, linenumber) total order; the
    * mean is one IEEE division of exact integer sum/count. Per-priority
    * windows are the documented exact-percentile trade-off; a query
    * that wants a sketch instead asks for one by name
    * (`tdigest_quantile` or `percentile_approx`). */
  val q147 = Q(
    "q147_shipping_delay",
    (s, d) => {
      // r9 (guide §2.3 — shuffle fewer bytes): the exact ceil-rank
      // percentile VALUE depends only on the per-priority delay
      // SPECTRUM (the row at rank r carries the smallest delay whose
      // cumulative count reaches r — the (orderkey, linenumber)
      // tiebreak orders rows WITHIN equal delays and cannot change the
      // delay at any rank), so the full-fact row_number window (5
      // single-priority sort tasks over the whole join) collapses to
      // one (pri, delay) rollup; everything downstream is
      // spectrum-sized (~thousands of rows at any corpus size).
      val spec = Tables.load(s, d, "lineitem")
        .join(Tables.load(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("pri"),
          datediff(col("l_shipdate"), col("o_orderdate"))
            .cast(LongType).as("delay"))
        .groupBy(col("pri"), col("delay"))
        .agg(count(lit(1)).as("c"))
        .persistTracked() // cum + counts both read the spectrum
      val cum = spec.withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("pri"))
          .orderBy(col("delay"))))
      val counts = spec.groupBy(col("pri"))
        .agg(sum(col("c")).cast(LongType).as("n"),
          sum(col("delay") * col("c")).as("sum_d"),
          sum(when(col("delay") < 0, col("c")).otherwise(0L))
            .cast(LongType).as("n_anomalies"))
      cum.join(counts, Seq("pri"))
        .groupBy(col("pri"))
        .agg(
          max(col("n")).as("n"), max(col("n_anomalies")).as("n_anomalies"),
          min(when(col("cum") >= expr("(n * 50 + 99) div 100"),
            col("delay"))).as("p50_days"),
          min(when(col("cum") >= expr("(n * 90 + 99) div 100"),
            col("delay"))).as("p90_days"),
          max(col("sum_d")).as("sum_d"))
        .select(col("pri"), col("n"), col("n_anomalies"),
          col("p50_days"), col("p90_days"),
          (col("sum_d").cast(DoubleType) / col("n").cast(DoubleType))
            .as("mean_days"))
        .orderBy(col("pri"))
    },
    Some("""
      WITH delays AS (
        SELECT o_orderpriority AS pri, l_orderkey, l_linenumber,
               CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT)
                 AS delay
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY pri
                 ORDER BY delay, l_orderkey, l_linenumber) AS rn
        FROM delays
      ), counts AS (
        SELECT pri, CAST(max(rn) AS BIGINT) AS n,
               CAST(sum(delay) AS BIGINT) AS sum_d,
               CAST(sum(CASE WHEN delay < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_anomalies
        FROM ranked GROUP BY 1
      ), p50 AS (
        SELECT r.pri, r.delay AS p50_days
        FROM ranked r JOIN counts USING (pri)
        WHERE rn = (n * 50 + 99) // 100
      ), p90 AS (
        SELECT r.pri, r.delay AS p90_days
        FROM ranked r JOIN counts USING (pri)
        WHERE rn = (n * 90 + 99) // 100
      )
      SELECT pri, n, n_anomalies, p50_days, p90_days,
             CAST(sum_d AS DOUBLE) / CAST(n AS DOUBLE) AS mean_days
      FROM counts JOIN p50 USING (pri) JOIN p90 USING (pri)
      ORDER BY pri"""))

  /** q151: TPC-H Q13 shape — customer order-count distribution: how many
    * customers placed exactly k qualifying orders, INCLUDING the
    * zero-order customers the left outer join preserves (the classic
    * count-of-counts histogram; Q13's o_comment NOT LIKE exclusion
    * becomes a priority-class exclusion against this fixture). Completes
    * the classic TPC-H shape set Q1/Q5/Q8/Q13/Q17/Q22. Scale: one
    * custkey shuffle for the outer join + first aggregate (orders
    * pre-filtered before the join, partial counts map-side), then a
    * tiny count-of-counts aggregate over one row per customer; the
    * final histogram is at most max-fan-in rows. count(o_orderkey)
    * counts non-NULL keys only, so unmatched customers land in bucket
    * 0 identically in both engines. */
  val q151 = Q(
    "q151_custdist",
    (s, d) => {
      val cust = Tables.load(s, d, "customer").select(col("c_custkey"))
      val ord = Tables.load(s, d, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      val perCust = cust.join(ord, col("c_custkey") === col("o_custkey"),
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""
      WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
      )
      SELECT c_count, count(*) AS custdist
      FROM per_cust
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""))

  /** q158: Benford first-digit audit — the classic fraud/data-quality
    * screen (Benford 1938; Nigrini's forensic-accounting use): compare
    * the leading-digit distribution of order totals against
    * log10(1+1/d) and report the per-digit chi-square contribution.
    * TPC-H-style uniform prices are NOT Benford-distributed, and the
    * audit says so honestly — the operator's job is the report, not a
    * verdict. Determinism: the leading digit comes from the exact
    * BIGINT cents value via integer→string (both engines render
    * integers identically; cents = price×10², and ×10² never moves the
    * leading digit); the nine expected probabilities are identical
    * decimal literals both engines parse to the same doubles; every
    * per-digit stat is arithmetic on (long, literal) pairs — no
    * cross-row double sum anywhere. Scale: one map-side-combinable
    * 9-group aggregate; the digit lookup is a 9-row broadcast. */
  val q158 = Q(
    "q158_benford_audit",
    (s, d) => {
      import s.implicits._
      val benford = Seq(
        (1L, 0.3010299956639812), (2L, 0.17609125905568124),
        (3L, 0.12493873660829992), (4L, 0.09691001300805642),
        (5L, 0.07918124604762482), (6L, 0.06694678963061322),
        (7L, 0.05799194697768673), (8L, 0.05115252244738129),
        (9L, 0.04575749056067514)).toDF("digit", "benford_p")
      val counts = Tables.load(s, d, "orders")
        .select(Det.cents(col("o_totalprice")).as("cents"))
        .filter(col("cents") > 0L)
        .withColumn("digit",
          substring(col("cents").cast(StringType), 1, 1).cast(LongType))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("n_total"))
      benford.join(counts, Seq("digit"), "left_outer")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .crossJoin(broadcast(total))
        .withColumn("share",
          col("n").cast(DoubleType) / col("n_total").cast(DoubleType))
        .withColumn("expected",
          col("n_total").cast(DoubleType) * col("benford_p"))
        .withColumn("chi2_part",
          (col("n").cast(DoubleType) - col("expected"))
            * (col("n").cast(DoubleType) - col("expected"))
            / col("expected"))
        .select(col("digit"), col("n"), col("share"), col("benford_p"),
          col("chi2_part"))
        .orderBy(col("digit"))
    },
    Some("""
      WITH benford(digit, benford_p) AS (
        VALUES (1, 0.3010299956639812), (2, 0.17609125905568124),
               (3, 0.12493873660829992), (4, 0.09691001300805642),
               (5, 0.07918124604762482), (6, 0.06694678963061322),
               (7, 0.05799194697768673), (8, 0.05115252244738129),
               (9, 0.04575749056067514)
      ), counts AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                 AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               count(*) AS n
        FROM orders
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
        GROUP BY 1
      ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts
      )
      SELECT CAST(b.digit AS BIGINT) AS digit,
             coalesce(c.n, 0) AS n,
             CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS share,
             CAST(b.benford_p AS DOUBLE) AS benford_p,
             (CAST(coalesce(c.n, 0) AS DOUBLE)
                - CAST(n_total AS DOUBLE) * CAST(b.benford_p AS DOUBLE))
               * (CAST(coalesce(c.n, 0) AS DOUBLE)
                  - CAST(n_total AS DOUBLE) * CAST(b.benford_p AS DOUBLE))
               / (CAST(n_total AS DOUBLE) * CAST(b.benford_p AS DOUBLE))
               AS chi2_part
      FROM benford b LEFT JOIN counts c ON b.digit = c.digit
      CROSS JOIN tot
      ORDER BY digit"""))

  /** q161: weighted exact percentiles — ClickHouse's
    * `quantileExactWeighted` (a capability its engines expose that
    * ANSI SQL lacks): the p-th percentile of unit price where each
    * lineitem counts with weight = its quantity, so a 40-unit line
    * moves the distribution 40× more than a 1-unit line. Definition:
    * the smallest value whose running weight in (value, key) total
    * order reaches ceil(p·W/100) — all integer arithmetic (cents,
    * integral quantities, ceil-rank thresholds), zero doubles until
    * the final cents→currency division. Scale: the running weight is
    * [[graft.operators.GlobalOrder.withOrderedCumsum]] with value =
    * weight — range-partitioned rank, never a single-partition window;
    * the crossing row is a filter + MIN, not a sort. The ORACLE
    * replays the definition with a window cumsum, so agreement proves
    * the distributed cumsum == the naive global window. */
  val q161 = Q(
    "q161_weighted_percentiles",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Det.cents(col("l_extendedprice")).as("cents"),
          round(col("l_quantity")).cast(LongType).as("w"))
      val cum = graft.operators.GlobalOrder.withOrderedCumsum(
        li, Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
        col("w"), "cw")
      val tot = cum.agg(max(col("cw")).as("w_total"))
      val crossed = cum.crossJoin(broadcast(tot))
      def wpct(p: Int): org.apache.spark.sql.Column =
        min(when(
          col("cw") >= expr(s"(w_total * $p + 99) div 100"),
          col("cents")))
      crossed.agg(
        max(col("w_total")).as("w_total"),
        wpct(50).as("p50_c"), wpct(90).as("p90_c"))
        .select(col("w_total"),
          (col("p50_c").cast(DoubleType) / lit(100.0)).as("p50_weighted"),
          (col("p90_c").cast(DoubleType) / lit(100.0)).as("p90_weighted"))
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(l_quantity) AS BIGINT) AS w
        FROM lineitem
      ), cum AS (
        SELECT cents,
               sum(w) OVER (ORDER BY cents, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS cw
        FROM li
      ), tot AS (
        SELECT CAST(max(cw) AS BIGINT) AS w_total FROM cum
      )
      SELECT w_total,
             CAST(min(CASE WHEN cw >= (w_total * 50 + 99) // 100
                           THEN cents END) AS DOUBLE) / 100
               AS p50_weighted,
             CAST(min(CASE WHEN cw >= (w_total * 90 + 99) // 100
                           THEN cents END) AS DOUBLE) / 100
               AS p90_weighted
      FROM cum, tot
      GROUP BY w_total"""))

  /** q163: RANGE-interval window frames — the ANSI frame type q49's
    * ROWS suite leaves out, on the input where the two DIFFER: a
    * trailing-7-calendar-day revenue window over a daily series WITH
    * GAPS (a missing day still ages out of a RANGE frame; a ROWS frame
    * would wrongly reach 7 observed rows back). Frame bounds run over
    * an integer epoch-day key, so the frame arithmetic is exact both
    * engines. Scale: the window's input is the (priority, day) ROLLUP
    * — calendar-bounded, not corpus-bounded — so the per-priority
    * window partition holds at most one row per day regardless of data
    * volume; the corpus contributes one map-side-combinable aggregate.
    * Cents stay BIGINT through frame sums; one division per row at
    * the end. */
  val q163 = Q(
    "q163_range_frame",
    (s, d) => {
      val daily = Tables.load(s, d, "orders")
        .groupBy(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_day"),
          sum(Det.cents(col("o_totalprice"))).as("cents_day"))
        .withColumn("day_num", unix_date(col("day")).cast(LongType))
      val w = Window.partitionBy(col("pri")).orderBy(col("day_num"))
        .rangeBetween(-6, Window.currentRow)
      daily
        .withColumn("n_7d", sum(col("n_day")).over(w))
        .withColumn("cents_7d", sum(col("cents_day")).over(w))
        .select(col("pri"), col("day"), col("n_day"),
          (col("cents_day").cast(DoubleType) / lit(100.0)).as("rev_day"),
          col("n_7d"),
          (col("cents_7d").cast(DoubleType) / lit(100.0)).as("rev_7d"))
        .orderBy(col("pri"), col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day,
               count(*) AS n_day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS cents_day,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS day_num
        FROM orders
        GROUP BY 1, 2
      )
      SELECT pri, day, n_day,
             CAST(cents_day AS DOUBLE) / 100 AS rev_day,
             CAST(sum(n_day) OVER w AS BIGINT) AS n_7d,
             CAST(CAST(sum(cents_day) OVER w AS BIGINT) AS DOUBLE) / 100
               AS rev_7d
      FROM daily
      WINDOW w AS (PARTITION BY pri ORDER BY day_num
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY pri, day"""))

  /** q173: FIFO lot allocation — the warehouse cost-accounting operator
    * (match each demand line against supply lots in arrival order;
    * deliveries split across lots, lots split across deliveries): the
    * imperative-looking "consume the queue" loop becomes a SET
    * operation via the cumsum-interval trick — demand line i occupies
    * quantity-axis interval [Σqty_{<i}, Σqty_{≤i}) within its part,
    * lot k occupies [Σsup_{<k}, Σsup_{≤k}), and FIFO allocation of
    * line i from lot k is EXACTLY the overlap length of the two
    * intervals. One equi-join on part + two inequality predicates
    * computes every split with no loop and no state. Lots are
    * synthesized deterministically from the part key (4 lots,
    * 100 + (key·(k+3) mod 300) units) so both over- and under-supplied
    * parts occur; unfilled = demand − allocated is reported, not
    * hidden. Scale: the cumsum windows partition per part (bounded by
    * per-part line count; a mega-part would pre-bucket like q93) and
    * the join fan-out is ≤ lots-per-part per line. All quantities are
    * exact BIGINTs. */
  val q173 = Q(
    "q173_fifo_allocation",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val demand = Tables.load(s, d, "lineitem")
        .select(col("l_partkey").as("p"), col("l_orderkey").as("ok"),
          col("l_linenumber").as("ln"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          to_date(col("l_shipdate")).as("sd"))
      val wD = Window.partitionBy(col("p"))
        .orderBy(col("sd"), col("ok"), col("ln"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dIv = demand.withColumn("dhi", sum(col("qty")).over(wD))
        .withColumn("dlo", col("dhi") - col("qty"))
      val supply = Tables.load(s, d, "part")
        .select(col("p_partkey").as("p"),
          explode(expr("sequence(1, 4)")).as("k"))
        .withColumn("sup",
          lit(100L) + expr("pmod(p * (k + 3), 300)"))
      val wS = Window.partitionBy(col("p")).orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sIv = supply.withColumn("shi", sum(col("sup")).over(wS))
        .withColumn("slo", col("shi") - col("sup"))
      val pairs = dIv.join(sIv, Seq("p"))
        .filter(col("dlo") < col("shi") && col("slo") < col("dhi"))
        .withColumn("alloc",
          least(col("dhi"), col("shi")) - greatest(col("dlo"), col("slo")))
      val perPartAlloc = pairs.groupBy(col("p"))
        .agg(sum(col("alloc")).as("allocated_qty"),
          count(lit(1)).as("n_splits"))
      val perPartDemand = dIv.groupBy(col("p"))
        .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("demand_qty"))
      val perPartSupply = sIv.groupBy(col("p"))
        .agg(sum(col("sup")).as("supply_qty"))
      perPartDemand.join(perPartSupply, Seq("p"))
        .join(perPartAlloc, Seq("p"), "left_outer")
        .select(col("p"), col("n_lines"), col("demand_qty"),
          col("supply_qty"),
          coalesce(col("allocated_qty"), lit(0L)).as("allocated_qty"),
          (col("demand_qty")
            - coalesce(col("allocated_qty"), lit(0L))).as("unfilled_qty"),
          coalesce(col("n_splits"), lit(0L)).as("n_splits"))
        .orderBy(col("p"))
    },
    Some("""
      WITH demand AS (
        SELECT l_partkey AS p, l_orderkey AS ok, l_linenumber AS ln,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               CAST(l_shipdate AS DATE) AS sd
        FROM lineitem
      ), div_ AS (
        SELECT *, CAST(sum(qty) OVER (PARTITION BY p ORDER BY sd, ok, ln
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS dhi
        FROM demand
      ), d2 AS (
        SELECT *, dhi - qty AS dlo FROM div_
      ), supply AS (
        SELECT p_partkey AS p, k,
               100 + ((p_partkey * (k + 3)) % 300) AS sup
        FROM part, unnest(range(1, 5)) AS t(k)
      ), siv AS (
        SELECT *, CAST(sum(sup) OVER (PARTITION BY p ORDER BY k
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS shi
        FROM supply
      ), s2 AS (
        SELECT *, shi - sup AS slo FROM siv
      ), pairs AS (
        SELECT d.p,
               least(d.dhi, s.shi) - greatest(d.dlo, s.slo) AS alloc
        FROM d2 d JOIN s2 s
          ON d.p = s.p AND d.dlo < s.shi AND s.slo < d.dhi
      ), pa AS (
        SELECT p, CAST(sum(alloc) AS BIGINT) AS allocated_qty,
               count(*) AS n_splits
        FROM pairs GROUP BY 1
      ), pd AS (
        SELECT p, count(*) AS n_lines, CAST(sum(qty) AS BIGINT)
                 AS demand_qty
        FROM d2 GROUP BY 1
      ), ps AS (
        SELECT p, CAST(sum(sup) AS BIGINT) AS supply_qty FROM s2 GROUP BY 1
      )
      SELECT pd.p, pd.n_lines, pd.demand_qty, ps.supply_qty,
             coalesce(pa.allocated_qty, 0) AS allocated_qty,
             pd.demand_qty - coalesce(pa.allocated_qty, 0) AS unfilled_qty,
             coalesce(pa.n_splits, 0) AS n_splits
      FROM pd JOIN ps ON pd.p = ps.p
      LEFT JOIN pa ON pd.p = pa.p
      ORDER BY pd.p"""))

  /** q172: TPC-H Q21 shape — "suppliers who kept orders waiting": count
    * a supplier's late lines (shipped > 90 days after the order date)
    * in MULTI-supplier orders where it is the ONLY late supplier — the
    * benchmark's hardest correlated-subquery shape, EXISTS and NOT
    * EXISTS against the same fact table, both correlated on the outer
    * row's order AND inequality-correlated on the supplier. Completes
    * the classic shape set (Q1/Q5/Q8/Q13/Q17/Q22 = q01/q131/q139/q151/
    * q142/q145). Spark plan: both correlations DECORRELATE to
    * distinct-pair joins — EXISTS(other supplier in order) becomes a
    * semi-join against the (order, supplier) pair set with a
    * different-supplier predicate; NOT EXISTS(other LATE supplier)
    * becomes the same join LEFT ANTI against the late pair set — so
    * the fact table shuffles by orderkey once and no per-row subquery
    * ever runs. The ORACLE keeps the textbook correlated EXISTS/NOT
    * EXISTS text: agreement proves the decorrelation. The fixture's
    * ship dates are synthetic (delays up to ±years; negative delays
    * exist and are simply not-late) — the >90d rule still selects
    * 28.7k of 60k lines at sf0.01. */
  val q172 = Q(
    "q172_blame_supplier",
    (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      val l = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          to_date(col("l_shipdate")).as("sd"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (datediff(col("sd"), col("od")) > 90).as("late"))
        .persistTracked()
      // r9 (guide §2.4 — remove shuffles outright): the EXISTS/NOT
      // EXISTS pair decorrelates into ONE per-order aggregate — "another
      // supplier appears in the order" ⟺ distinct suppliers ≥ 2, and
      // "no OTHER supplier is late" for an already-late row ⟺ the
      // order's distinct LATE suppliers = 1 (the row's own). Replaces
      // two distinct passes + a semi + an anti join (five shuffles of
      // the fact frame) with one grouped aggregate + one join against
      // an order-sized frame.
      val perOrder = l.groupBy(col("l_orderkey").as("ok"))
        .agg(
          countDistinct(col("l_suppkey")).as("nsup"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("nlate"))
        .filter(col("nsup") >= 2 && col("nlate") === 1)
        .select(col("ok"))
      val blamed = l.filter(col("late"))
        .join(perOrder, col("l_orderkey") === col("ok"), "left_semi")
      val sup = Tables.load(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"))
      blamed.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(20)
    },
    Some("""
      WITH l AS (
        SELECT l.l_orderkey, l.l_suppkey,
               (date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) > 90) AS late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
      )
      SELECT s.s_name, count(*) AS numwait
      FROM l l1
      JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      WHERE l1.late
        AND EXISTS (
          SELECT 1 FROM l l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM l l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.late)
      GROUP BY s.s_name
      ORDER BY numwait DESC, s_name
      LIMIT 20"""))

  /** q170: two-feature multiple linear regression via Cramer's rule —
    * q113's closed-form OLS generalized to ŷ = b0 + b1·x1 + b2·x2
    * (ClickHouse's stochasticLinearRegression territory, solved exactly:
    * with 2 features the normal equations are a 2×2 system on CENTERED
    * second moments, and Cramer's rule is two determinant ratios — no
    * iteration, one scan). Numeric discipline: raw moments (Σx, Σx²,
    * Σxy …) are exact BIGINT sums of bounded products; centered moments
    * S_ab = n·Σab − Σa·Σb and the determinant products widen to
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — both exact 128-bit-class
    * integer arithmetic, both correctly rounded on the final cast to
    * double, so b1/b2 are each ONE IEEE division of identical operands
    * (the q159 widening convention). y is floor-dollars (cents div 100)
    * to keep determinant magnitudes under 10³⁸ through sf1.0 — beyond
    * that, center on sampled means before accumulating. Fit quality
    * r² = (b1·Sx1y + b2·Sx2y)/Syy from the same moments. The fixture's
    * lineitem columns are mutually uncorrelated by construction
    * (corr ≈ 0.003), so the honest fit is r² ≈ 5·10⁻⁵ — the regression
    * correctly reports "no linear structure", the q158-Benford brand of
    * fixture honesty. Scale: ONE map-side-combinable aggregate over the
    * fact table; everything after is arithmetic on a 1-row frame. */
  val q170 = Q(
    "q170_ols_cramer",
    (s, d) => {
      val dec = DecimalType(38, 0)
      def D(c: org.apache.spark.sql.Column) = c.cast(dec)
      val li = Tables.load(s, d, "lineitem").select(
        expr("CAST(round(l_quantity) AS BIGINT)").as("x1"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("x2"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 100")
          .as("y"))
      val m = li.agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("sx1x1"),
        sum(col("x1") * col("x2")).as("sx1x2"),
        sum(col("x2") * col("x2")).as("sx2x2"),
        sum(col("x1") * col("y")).as("sx1y"),
        sum(col("x2") * col("y")).as("sx2y"),
        sum(col("y") * col("y")).as("syy"))
      m.select(
          col("n"),
          (D(col("n")) * D(col("sx1x1")) - D(col("sx1")) * D(col("sx1")))
            .as("S11"),
          (D(col("n")) * D(col("sx1x2")) - D(col("sx1")) * D(col("sx2")))
            .as("S12"),
          (D(col("n")) * D(col("sx2x2")) - D(col("sx2")) * D(col("sx2")))
            .as("S22"),
          (D(col("n")) * D(col("sx1y")) - D(col("sx1")) * D(col("sy")))
            .as("S1y"),
          (D(col("n")) * D(col("sx2y")) - D(col("sx2")) * D(col("sy")))
            .as("S2y"),
          (D(col("n")) * D(col("syy")) - D(col("sy")) * D(col("sy")))
            .as("Syy"),
          col("sx1"), col("sx2"), col("sy"))
        // each S converts to double INDIVIDUALLY (correctly rounded in
        // both engines — Decimal cast here, Det.hugeDoubleSql in the
        // twin), then the Cramer products run in double: the S-products
        // in wide integers can pass 2^106 where even the split
        // conversion misrounds, but every single S stays far inside it
        .select(
          col("n"),
          ((col("S1y").cast(DoubleType) * col("S22").cast(DoubleType) -
            col("S2y").cast(DoubleType) * col("S12").cast(DoubleType))
            / (col("S11").cast(DoubleType) * col("S22").cast(DoubleType) -
              col("S12").cast(DoubleType) * col("S12").cast(DoubleType)))
            .as("b1"),
          ((col("S2y").cast(DoubleType) * col("S11").cast(DoubleType) -
            col("S1y").cast(DoubleType) * col("S12").cast(DoubleType))
            / (col("S11").cast(DoubleType) * col("S22").cast(DoubleType) -
              col("S12").cast(DoubleType) * col("S12").cast(DoubleType)))
            .as("b2"),
          col("S1y"), col("S2y"), col("Syy"),
          col("sx1"), col("sx2"), col("sy"))
        .select(
          col("n"),
          ((col("sy").cast(DoubleType)
            - col("b1") * col("sx1").cast(DoubleType)
            - col("b2") * col("sx2").cast(DoubleType))
            / col("n").cast(DoubleType)).as("b0"),
          col("b1"), col("b2"),
          ((col("b1") * col("S1y").cast(DoubleType)
            + col("b2") * col("S2y").cast(DoubleType))
            / col("Syy").cast(DoubleType)).as("r2"))
    },
    Some(s"""
      WITH li AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
               CAST(round(l_discount * 100) AS BIGINT) AS x2,
               CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS y
        FROM lineitem
      ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS sx1,
               CAST(sum(x2) AS BIGINT) AS sx2,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
               CAST(sum(x1 * x2) AS BIGINT) AS sx1x2,
               CAST(sum(x2 * x2) AS BIGINT) AS sx2x2,
               CAST(sum(x1 * y) AS BIGINT) AS sx1y,
               CAST(sum(x2 * y) AS BIGINT) AS sx2y,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM li
      ), c AS (
        SELECT n, sx1, sx2, sy,
               CAST(n AS HUGEINT) * sx1x1 - CAST(sx1 AS HUGEINT) * sx1
                 AS S11,
               CAST(n AS HUGEINT) * sx1x2 - CAST(sx1 AS HUGEINT) * sx2
                 AS S12,
               CAST(n AS HUGEINT) * sx2x2 - CAST(sx2 AS HUGEINT) * sx2
                 AS S22,
               CAST(n AS HUGEINT) * sx1y - CAST(sx1 AS HUGEINT) * sy
                 AS S1y,
               CAST(n AS HUGEINT) * sx2y - CAST(sx2 AS HUGEINT) * sy
                 AS S2y,
               CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                 AS Syy
        FROM m
      ), cd AS (
        SELECT n, sx1, sx2, sy,
               ${Det.hugeDoubleSql("S11")} AS s11d,
               ${Det.hugeDoubleSql("S12")} AS s12d,
               ${Det.hugeDoubleSql("S22")} AS s22d,
               ${Det.hugeDoubleSql("S1y")} AS s1yd,
               ${Det.hugeDoubleSql("S2y")} AS s2yd,
               ${Det.hugeDoubleSql("Syy")} AS syyd
        FROM c
      ), fit AS (
        SELECT n, sx1, sx2, sy, s1yd, s2yd, syyd,
               (s1yd * s22d - s2yd * s12d)
                 / (s11d * s22d - s12d * s12d) AS b1,
               (s2yd * s11d - s1yd * s12d)
                 / (s11d * s22d - s12d * s12d) AS b2
        FROM cd
      )
      SELECT n,
             (CAST(sy AS DOUBLE) - b1 * CAST(sx1 AS DOUBLE)
                - b2 * CAST(sx2 AS DOUBLE)) / CAST(n AS DOUBLE) AS b0,
             b1, b2,
             (b1 * s1yd + b2 * s2yd) / syyd AS r2
      FROM fit"""))

  /** q169: Kaplan-Meier survival curve over customer purchase lifetimes
    * (Kaplan & Meier 1958 — the censoring-aware churn statistic beside
    * q109's cohort grid: a customer whose last order sits near the end
    * of the observation window hasn't churned, they're CENSORED, and
    * counting them as churned biases every retention number down).
    * Lifetime = WEEKS between a customer's first and last order
    * (weekly grain keeps the curve calendar-bounded: ≤ span/7 ≈ 343
    * points at any SF); censored if the last order falls within 90
    * days of the corpus end. Estimator: at each observed lifetime t_i
    * (ascending), n_i = customers with lifetime ≥ t_i (at risk —
    * censored-at-t_i included, the deaths-before-censors convention),
    * d_i = churned customers with lifetime exactly t_i, S(t_i) =
    * Π_{j≤i}(1−d_j/n_j). Cross-engine doubles: each factor is ONE IEEE
    * division of exact BIGINTs, the factor list is materialized in
    * t-order, and the cumulative product folds sequentially with an
    * explicit 1.0 seed on BOTH engines (×1.0 is IEEE-exact, so
    * DuckDB's seed-from-first list_reduce matches Spark's seeded
    * aggregate — the q153/q168 fold convention). Scale: the unbounded
    * work is one per-customer min/max aggregate; the curve itself is
    * an O(m²) nested fold on a calendar-sized array in one task. */
  val q169 = Q(
    "q169_km_survival",
    (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
      val span = o.agg(max(col("day")).as("dmax"))
      val users = o.groupBy(col("o_custkey"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("dl"))
        .crossJoin(broadcast(span))
        .select(
          expr("CAST(datediff(dl, d0) div 7 AS BIGINT)").as("t"),
          (datediff(col("dmax"), col("dl")) <= 90).as("censored"))
      users.groupBy(col("t"))
        .agg(count(lit(1)).as("a"),
          sum(when(!col("censored"), 1L).otherwise(0L)).as("dd"))
        .agg(expr("sort_array(collect_list(struct(t, a, dd)))").as("arr"),
          sum(col("a")).as("n"))
        .withColumn("m", expr("CAST(size(arr) AS INT)"))
        .withColumn("fs", expr(
          """transform(sequence(1, m), j ->
               CAST(n - aggregate(slice(arr, 1, j - 1), CAST(0 AS BIGINT),
                      (x, e) -> x + e.a) - element_at(arr, j).dd AS DOUBLE)
               / CAST(n - aggregate(slice(arr, 1, j - 1), CAST(0 AS BIGINT),
                        (x, e) -> x + e.a) AS DOUBLE))"""))
        .select(expr(
          """explode(transform(sequence(1, m), i -> struct(
               element_at(arr, i).t AS t_weeks,
               n - aggregate(slice(arr, 1, i - 1), CAST(0 AS BIGINT),
                     (x, e) -> x + e.a) AS n_risk,
               element_at(arr, i).dd AS n_events,
               element_at(arr, i).a - element_at(arr, i).dd AS n_censored,
               aggregate(slice(fs, 1, i), CAST(1.0 AS DOUBLE),
                 (x, y) -> x * y) AS survival)))""").as("r"))
        .select(col("r.t_weeks").as("t_weeks"), col("r.n_risk").as("n_risk"),
          col("r.n_events").as("n_events"),
          col("r.n_censored").as("n_censored"),
          col("r.survival").as("survival"))
        .orderBy(col("t_weeks"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS day FROM orders
      ), span AS (
        SELECT max(day) AS dmax FROM o
      ), users AS (
        SELECT CAST(date_diff('day', min(day), max(day)) // 7 AS BIGINT)
                 AS t,
               (date_diff('day', max(day), (SELECT dmax FROM span)) <= 90)
                 AS censored
        FROM o GROUP BY o_custkey
      ), pert AS (
        SELECT t, CAST(count(*) AS BIGINT) AS a,
               CAST(count(*) FILTER (NOT censored) AS BIGINT) AS dd
        FROM users GROUP BY 1
      ), series AS (
        SELECT list(t ORDER BY t) AS ts_, list(a ORDER BY t) AS as_,
               list(dd ORDER BY t) AS ds_, CAST(sum(a) AS BIGINT) AS n
        FROM pert
      ), facs AS (
        SELECT *, list_transform(range(1, len(ts_) + 1), j ->
          CAST(n - list_reduce(list_prepend(CAST(0 AS BIGINT),
                 as_[1:j-1]), (x, y) -> x + y) - ds_[j] AS DOUBLE)
          / CAST(n - list_reduce(list_prepend(CAST(0 AS BIGINT),
                   as_[1:j-1]), (x, y) -> x + y) AS DOUBLE)) AS fs
        FROM series
      )
      SELECT ts_[i] AS t_weeks,
             n - list_reduce(list_prepend(CAST(0 AS BIGINT), as_[1:i-1]),
                   (x, y) -> x + y) AS n_risk,
             ds_[i] AS n_events,
             as_[i] - ds_[i] AS n_censored,
             list_reduce(list_prepend(CAST(1.0 AS DOUBLE), fs[1:i]),
               (x, y) -> x * y) AS survival
      FROM facs, unnest(range(1, len(ts_) + 1)) AS u(i)
      ORDER BY t_weeks"""))

  /** q168: CUSUM change-point detection over the monthly revenue series
    * (Page 1954 — the SPC control chart beside q134's rolling z-score:
    * z-scores catch single-point spikes, CUSUM accumulates SMALL
    * persistent drifts until the cumulative deviation crosses a
    * threshold, which is how pipeline-health monitors catch slow data
    * rot). Everything stays in EXACT BIGINT by scaling: dev_i =
    * m·c_i − T (m = #months, T = Σc, so Σdev ≡ 0 and "mean-centered"
    * needs no division); S⁺ = max(0, S⁺+dev), S⁻ = max(0, S⁻−dev);
    * threshold h = 4·(Σ|dev| div m) — integer floor-div, non-negative
    * operands, so Spark div ≡ DuckDB //. The recurrences fold in month
    * order over one bounded array (80 months at any SF — calendar-,
    * not row-sized), zero-seeded on BOTH engines by prepending 0 to
    * the DuckDB fold list (list_reduce seeds from the first element;
    * Spark aggregate seeds explicitly — the q153 convention). Scale:
    * the unbounded work (monthly rollup) is one shuffle; the fold is
    * O(months²) on a calendar-bounded array in a single task. */
  val q168 = Q(
    "q168_cusum_changepoint",
    (s, d) => {
      val monthly = Tables.load(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType)
          .as("mon"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
      monthly
        .agg(expr("sort_array(collect_list(struct(mon, c)))").as("arr"))
        .withColumn("m", expr("CAST(size(arr) AS BIGINT)"))
        .withColumn("t", expr(
          "aggregate(arr, CAST(0 AS BIGINT), (acc, e) -> acc + e.c)"))
        .withColumn("h", expr(
          """4 * (aggregate(arr, CAST(0 AS BIGINT),
               (acc, e) -> acc + abs(m * e.c - t)) div m)"""))
        .select(col("m"), col("t"), col("h"), expr(
          """explode(transform(sequence(1, CAST(m AS INT)), i -> struct(
               element_at(arr, i).mon AS mon,
               element_at(arr, i).c AS c,
               m * element_at(arr, i).c - t AS dev,
               aggregate(slice(arr, 1, i), CAST(0 AS BIGINT),
                 (acc, e) -> greatest(CAST(0 AS BIGINT),
                   acc + (m * e.c - t))) AS s_pos,
               aggregate(slice(arr, 1, i), CAST(0 AS BIGINT),
                 (acc, e) -> greatest(CAST(0 AS BIGINT),
                   acc - (m * e.c - t))) AS s_neg)))""").as("r"))
        .select(col("r.mon").as("mon"),
          (col("r.c").cast(DoubleType) / lit(100.0)).as("rev_month"),
          col("r.dev").as("dev"), col("r.s_pos").as("s_pos"),
          col("r.s_neg").as("s_neg"),
          (col("r.s_pos") > col("h") || col("r.s_neg") > col("h"))
            .as("drift_flag"))
        .orderBy(col("mon"))
    },
    Some("""
      WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders GROUP BY 1
      ), series AS (
        SELECT list(mon ORDER BY mon) AS mons,
               list(c ORDER BY mon) AS cs
        FROM monthly
      ), consts AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(c) AS BIGINT) AS t
        FROM monthly
      ), thresh AS (
        SELECT 4 * (CAST(sum(abs(m * c - t)) AS BIGINT) // any_value(m))
          AS h
        FROM monthly, consts
      )
      SELECT mons[i] AS mon,
             CAST(cs[i] AS DOUBLE) / 100 AS rev_month,
             m * cs[i] - t AS dev,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), cs[1:i]),
               (acc, v) -> greatest(CAST(0 AS BIGINT), acc + (m * v - t)))
               AS BIGINT) AS s_pos,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), cs[1:i]),
               (acc, v) -> greatest(CAST(0 AS BIGINT), acc - (m * v - t)))
               AS BIGINT) AS s_neg,
             (list_reduce(list_prepend(CAST(0 AS BIGINT), cs[1:i]),
               (acc, v) -> greatest(CAST(0 AS BIGINT), acc + (m * v - t)))
                > h
              OR
              list_reduce(list_prepend(CAST(0 AS BIGINT), cs[1:i]),
               (acc, v) -> greatest(CAST(0 AS BIGINT), acc - (m * v - t)))
                > h) AS drift_flag
      FROM series, consts, thresh, unnest(range(1, len(cs) + 1)) AS u(i)
      ORDER BY mon"""))

  /** q167: triangle counting + global clustering coefficient over the
    * part co-purchase graph (nodes = parts, undirected edge = the pair
    * was co-ordered in ≥2 baskets — q144's affinity graph viewed as a
    * graph, not a list). Triangles are the graph-analytics primitive
    * behind community tightness / link spam / recommender diversity,
    * and the textbook case where the NAIVE plan (three-way edge
    * self-join) explodes: a hub of degree d contributes d² wedge
    * candidates. The scale path is DEGREE-ORDERED ORIENTATION
    * (Schank & Wagner 2005; Suri & Vassilvitskii WWW'11): orient every
    * edge from its (degree, id)-smaller endpoint to the larger, so
    * each triangle is counted exactly once from its minimum-rank
    * vertex and every wedge list is bounded by O(√|E|) (arboricity),
    * hubs included — the MapReduce-era fix that survives at crawl
    * scale. Wedge→closing-edge check is one equi-join on the (lo, hi)
    * pair. The ORACLE runs the naive undirected triple join, so
    * agreement proves the oriented rewrite counts the same triangles.
    * Composite rank = deg·10¹² + id packs the (deg, id) total order
    * into one BIGINT join column (exact while ids < 10¹² and deg <
    * 9·10⁶ — true for any part catalog; beyond that, use a struct
    * ordering). Census output: nodes/edges/wedges/triangles + the
    * global clustering coefficient 3T/wedges (exact BIGINTs, one IEEE
    * division). */
  val q167 = Q(
    "q167_triangle_count",
    (s, d) => {
      // r9: no distinct/persist on the fact projection — collect_set
      // dedups per basket and the frame has a single consumer
      val op = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      // undirected edges a<b from bounded per-basket explode (q144 shape)
      val edges = op.groupBy(col("l_orderkey"))
        .agg(expr("sort_array(collect_set(l_partkey))").as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
               transform(slice(ps, i + 2, size(ps)),
                 y -> struct(x AS a, y AS b))))""")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
        .select(col("a"), col("b"))
        .persistTracked()
      val deg = edges.select(col("a").as("v"))
        .unionAll(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("dg"))
        .persistTracked()
      val rk = (col("dg") * lit(1000000000000L) + col("v")).as("rk")
      val degA = deg.select(col("v").as("a"), rk.as("rka"))
      val degB = deg.select(col("v").as("b"), rk.as("rkb"))
      // orient: lo = smaller (deg, id), hi = larger — acyclic total order
      val oriented = edges.join(degA, Seq("a")).join(degB, Seq("b"))
        .select(
          when(col("rka") < col("rkb"), col("a")).otherwise(col("b"))
            .as("lo"),
          when(col("rka") < col("rkb"), col("b")).otherwise(col("a"))
            .as("hi"),
          when(col("rka") < col("rkb"), col("rkb")).otherwise(col("rka"))
            .as("rkhi"))
      // EDGE-ITERATOR count (r9, the q427 cut applied here): per
      // oriented edge (lo, hi), triangles closed above it are
      // |N⁺(lo) ∩ N⁺(hi)| — computed as one codegen'd array_intersect
      // over out-neighbor arrays instead of MATERIALIZING the wedge set
      // through a shuffle and joining it back (the wedge row count is
      // the same Σ d⁺(v)² work, but as in-operator array scans). Each
      // triangle is still counted exactly once, from its min-rank
      // vertex; out-arrays are O(√|E|)-bounded by the orientation.
      val adjO = oriented.groupBy(col("lo"))
        .agg(expr("sort_array(collect_list(hi))").as("nbrs"))
        .persistTracked()
      val nTri = adjO
        .select(col("nbrs").as("na"), explode(col("nbrs")).as("lo"))
        .join(adjO.select(col("lo"), col("nbrs").as("nb")), Seq("lo"))
        // r10: two-pointer merge count over the sorted out-neighbor
        // arrays (guide §4) — same Σ d⁺ work, no per-edge hash set
        .agg(sum(graft.functions.IntersectSize.sorted(col("na"), col("nb")))
          .cast(LongType).as("n_triangles"))
      val census = deg.agg(
        count(lit(1)).as("n_nodes"),
        expr("sum(dg) div 2").as("n_edges"),
        sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
      census.crossJoin(broadcast(nTri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          (col("n_triangles").cast(DoubleType) * lit(3.0)
            / col("n_wedges").cast(DoubleType)).as("clustering"))
    },
    Some("""
      WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      ), e AS (
        SELECT x.l_partkey AS a, y.l_partkey AS b
        FROM op x JOIN op y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
      ), deg AS (
        SELECT v, count(*) AS dg
        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY 1
      ), tri AS (
        SELECT count(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      )
      SELECT (SELECT count(*) FROM deg) AS n_nodes,
             (SELECT count(*) FROM e) AS n_edges,
             (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) FROM deg)
               AS n_wedges,
             n_triangles,
             CAST(n_triangles AS DOUBLE) * 3.0
               / CAST((SELECT sum(dg * (dg - 1) // 2) FROM deg) AS DOUBLE)
               AS clustering
      FROM tri"""))

  /** q177: TPC-H Q14 shape — promotion revenue share per ship-month:
    * what fraction of each month's discounted revenue came from PROMO
    * parts. The classic conditional-aggregate-over-join report
    * (reference q-set has no Q14 twin; this completes
    * Q1/Q5/Q7/Q8/Q10/Q13/Q14/Q17/Q19/Q21/Q22 in the repo). Revenue in
    * exact 10^-4 units (cents × (100 − disc_pct), the q131 convention);
    * the share is ONE IEEE division of those exact BIGINTs, identical
    * both engines. Scale: one broadcast of the part dimension into the
    * lineitem scan, one map-side-combinable month aggregate — a single
    * fact-table shuffle of ≤ #months rows. */
  val q177 = Q(
    "q177_promo_share",
    (s, d) => {
      val revU = Det.cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast(LongType))
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_partkey"),
          date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
          revU.as("rev_u"))
      val pt = Tables.load(s, d, "part")
        .select(col("p_partkey"), col("p_type"))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("ship_month"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev_u"))
            .otherwise(0L)).as("promo_u"),
          sum(col("rev_u")).as("total_u"),
          count(lit(1)).as("n_items"))
        .select(col("ship_month"), col("n_items"),
          (col("promo_u").cast(DoubleType) / lit(10000.0)).as("promo_rev"),
          (col("total_u").cast(DoubleType) / lit(10000.0)).as("total_rev"),
          (col("promo_u").cast(DoubleType) / col("total_u").cast(DoubleType))
            .as("promo_share"))
        .orderBy(col("ship_month"))
    },
    Some("""
      WITH li AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u,
               p_type
        FROM lineitem JOIN part ON l_partkey = p_partkey
      ), m AS (
        SELECT ship_month,
               CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_u ELSE 0 END)
                    AS BIGINT) AS promo_u,
               CAST(sum(rev_u) AS BIGINT) AS total_u,
               count(*) AS n_items
        FROM li GROUP BY ship_month
      )
      SELECT ship_month, n_items,
             CAST(promo_u AS DOUBLE) / CAST(10000 AS DOUBLE) AS promo_rev,
             CAST(total_u AS DOUBLE) / CAST(10000 AS DOUBLE) AS total_rev,
             CAST(promo_u AS DOUBLE) / CAST(total_u AS DOUBLE)
               AS promo_share
      FROM m ORDER BY ship_month"""))

  /** q178: TPC-H Q10 shape — returned-item revenue by customer: top-20
    * accounts by revenue lost to returns (l_returnflag = 'R') in one
    * order-date quarter, with the nation dimension attached. The
    * classic "who should account management call" report. Determinism:
    * ranking happens on the EXACT BIGINT revenue units with a custkey
    * tiebreak before the cast-to-double display value. Scale: orders
    * pre-filtered to the quarter before the fact join (the selective
    * leg drives), customer+nation broadcast, one aggregate on custkey;
    * TakeOrderedAndProject caps the result at 20 rows. */
  val q178 = Q(
    "q178_returned_customers",
    (s, d) => {
      val revU = Det.cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast(LongType))
      val li = Tables.load(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), revU.as("rev_u"))
      val ord = Tables.load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1996-04-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          Det.cents(col("c_acctbal")).as("bal_c"))
      val nat = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rev_u")).as("lost_u"), count(lit(1)).as("n_items"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          (col("bal_c").cast(DoubleType) / lit(100.0)).as("acctbal"),
          col("n_items"),
          (col("lost_u").cast(DoubleType) / lit(10000.0)).as("lost_rev"),
          col("lost_u"))
        .orderBy(col("lost_u").desc, col("c_custkey"))
        .limit(20)
        .drop("lost_u")
    },
    Some("""
      WITH agg AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS BIGINT) AS lost_u,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY o_custkey
      )
      SELECT c_custkey, c_name, n_name,
             CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS acctbal,
             n_items,
             CAST(lost_u AS DOUBLE) / CAST(10000 AS DOUBLE) AS lost_rev
      FROM agg
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      ORDER BY lost_u DESC, c_custkey
      LIMIT 20"""))

  /** q179: TPC-H Q7 shape — cross-border shipping volume: discounted
    * revenue between (customer nation, supplier nation) pairs per
    * ship-year, domestic flows excluded. NATION joins the fact twice
    * under different roles (the q139/Q8 dual-role pattern, here with
    * BOTH roles kept as output dimensions). Scale: two broadcast
    * nation legs + broadcast customer/supplier dims feed one lineitem
    * scan; the single shuffle is the final (nation², year)-sized
    * aggregate — pair-space is bounded at 25×24 per year. */
  val q179 = Q(
    "q179_nation_volume",
    (s, d) => {
      val revU = Det.cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast(LongType))
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("ship_year"), revU.as("rev_u"))
      val ord = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val supp = Tables.load(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val natC = Tables.load(s, d, "nation")
        .select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation"))
      val natS = Tables.load(s, d, "nation")
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .join(natC, col("c_nationkey") === col("cn_key"))
        .join(natS, col("s_nationkey") === col("sn_key"))
        .groupBy(col("cust_nation"), col("supp_nation"), col("ship_year"))
        .agg(count(lit(1)).as("n_items"),
          (sum(col("rev_u")).cast(DoubleType) / lit(10000.0)).as("volume"))
        .orderBy(col("cust_nation"), col("supp_nation"), col("ship_year"))
    },
    Some("""
      SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
             CAST(year(l_shipdate) AS INTEGER) AS ship_year,
             count(*) AS n_items,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS DOUBLE) / CAST(10000 AS DOUBLE) AS volume
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE c_nationkey <> s_nationkey
      GROUP BY 1, 2, 3
      ORDER BY 1, 2, 3"""))

  /** q180: TPC-H Q19 shape — disjunctive multi-attribute join predicate:
    * revenue from three OR'd (brand, size-range, quantity-range)
    * conjunctions spanning BOTH sides of the lineitem×part join. The
    * planner stress here is that the filter can neither be fully pushed
    * to one scan nor turned into a single join key — Catalyst splits
    * the common conjuncts (size ≥ 1, qty bounds hull) as scan-level
    * pushdowns and evaluates the residual OR post-join; quantities
    * compare as exact BIGINTs so no range boundary sits on a double.
    * Scale: part leg broadcasts; one conditional aggregate, no extra
    * shuffle. */
  val q180 = Q(
    "q180_disjunctive_join",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_partkey"),
          round(col("l_quantity")).cast(LongType).as("qty"),
          Det.cents(col("l_extendedprice")).as("price_c"))
      val pt = Tables.load(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
          && col("qty").between(1L, 20L)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(10, 30)
          && col("qty").between(15L, 35L)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(20, 50)
          && col("qty").between(30L, 50L))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(count(lit(1)).as("n_items"),
          (sum(col("price_c")).cast(DoubleType) / lit(100.0))
            .as("revenue"))
    },
    Some("""
      SELECT count(*) AS n_items,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND CAST(round(l_quantity) AS BIGINT) BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
             AND CAST(round(l_quantity) AS BIGINT) BETWEEN 15 AND 35)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
             AND CAST(round(l_quantity) AS BIGINT) BETWEEN 30 AND 50)"""))

  /** q181: RFM segmentation — the classic CRM/lifecycle grid: per
    * customer Recency (days from last order to the corpus max date),
    * Frequency (order count), Monetary (lifetime cents), each cut into
    * global quintiles, reported as the 5×5×5 segment census. Every
    * quintile is the exact ANSI NTILE(5) via the q141 machinery
    * (`GlobalOrder.withOrderedCumsum` rank + `ntileFromRank`) — three
    * range-partitioned orderings over one row per customer, never a
    * single-partition sort; recency orders DESC-by-staleness so R5 =
    * most recent, the conventional reading. Oracle = DuckDB native
    * ntile over the same full-tiebreak orderings. Scale: the per-
    * customer reduce is the only fact shuffle; everything after runs on
    * |customers| rows. */
  val q181 = Q(
    "q181_rfm_segments",
    (s, d) => {
      val per = Tables.load(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"),
          count(lit(1)).as("freq"),
          sum(Det.cents(col("o_totalprice"))).as("money_c"))
        .persistTracked()
      val anchor = per.agg(max(col("last_d")).as("max_d"))
      // r9 (guide §2.6 — overlap independent work): the three quintiles
      // were CHAINED (F ranked the output of R, M the output of F), so
      // their three range-shuffle + offsets + ntile pipelines ran
      // strictly in sequence; each rank depends only on `base`, so they
      // now run as INDEPENDENT branches of one DAG (sibling stages
      // schedule concurrently) and join back on the customer key —
      // identical ranks, ~⅓ the critical path of fixed per-pass costs
      val base = per.crossJoin(broadcast(anchor))
        .select(col("o_custkey"),
          datediff(col("max_d"), col("last_d")).cast(LongType)
            .as("recency_days"),
          col("freq"), col("money_c"))
        .persistTracked()
      // r10: ONE shared row-count aggregate over the persisted base —
      // each branch's max(rk) was a full extra pass over its ranked
      // frame just to learn |base|, the same number three times
      val tot = base.agg(count(lit(1)).as("n"))
      def quintile(order: Seq[org.apache.spark.sql.Column], out: String) = {
        val ranked = graft.operators.GlobalOrder.withOrderedCumsum(
          base, order, lit(1L), "rk")
        ranked.crossJoin(broadcast(tot))
          .withColumn(out, graft.operators.GlobalOrder
            .ntileFromRank(col("rk"), col("n"), 5))
          .select(col("o_custkey"), col(out))
      }
      // R: quintile 5 = most recent → order DESC by staleness
      val withRFM = base
        .join(quintile(
          Seq(col("recency_days").desc, col("o_custkey")), "r_q"),
          Seq("o_custkey"))
        .join(quintile(Seq(col("freq"), col("o_custkey")), "f_q"),
          Seq("o_custkey"))
        .join(quintile(Seq(col("money_c"), col("o_custkey")), "m_q"),
          Seq("o_custkey"))
      withRFM.groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_cust"),
          (sum(col("money_c")).cast(DoubleType) / lit(100.0))
            .as("segment_value"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    },
    Some("""
      WITH per AS (
        SELECT o_custkey, max(o_orderdate) AS last_d,
               count(*) AS freq,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS money_c
        FROM orders GROUP BY o_custkey
      ), base AS (
        SELECT o_custkey,
               datediff('day', last_d, (SELECT max(last_d) FROM per))
                 AS recency_days,
               freq, money_c
        FROM per
      ), nt AS (
        SELECT o_custkey, money_c,
               ntile(5) OVER (ORDER BY recency_days DESC, o_custkey)
                 AS r_q,
               ntile(5) OVER (ORDER BY freq, o_custkey) AS f_q,
               ntile(5) OVER (ORDER BY money_c, o_custkey) AS m_q
        FROM base
      )
      SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
             CAST(m_q AS BIGINT) AS m_q,
             count(*) AS n_cust,
             CAST(CAST(sum(money_c) AS BIGINT) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS segment_value
      FROM nt GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** q183: ordered string aggregation — the LISTAGG/string_agg(…ORDER
    * BY) capability: per order priority, the top-3 customer nations by
    * revenue rendered as one ordered CSV cell (the "summary column" every
    * BI export wants). Spark has no ordered string_agg, so the ordered
    * concat is composed deterministically: rank on the EXACT BIGINT
    * revenue (n_name tiebreak) → keep rk ≤ 3 → `array_join(transform(
    * array_sort(collect_list(struct(rk, name)))))` — sort-before-join
    * makes the cell order explicit rather than accumulation-order-
    * dependent, which is exactly what DuckDB's string_agg(… ORDER BY rk)
    * twin expresses natively. Scale: the window runs over the
    * (priority × nation)-sized AGGREGATE (≤125 rows), never the fact
    * table; the fact scan pays one grouped shuffle. */
  val q183 = Q(
    "q183_ordered_string_agg",
    (s, d) => {
      val ord = Tables.load(s, d, "orders")
        .select(col("o_orderpriority"), col("o_custkey"),
          Det.cents(col("o_totalprice")).as("cents"))
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nat = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val perNat = ord
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("o_orderpriority"), col("n_name"))
        .agg(sum(col("cents")).as("rev_c"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("rev_c").desc, col("n_name"))
      perNat.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("""array_join(transform(
                    array_sort(collect_list(struct(rk, n_name))),
                    x -> x.n_name), ',')""").as("top_nations"),
          (sum(col("rev_c")).cast(DoubleType) / lit(100.0))
            .as("top3_rev"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      WITH per_nat AS (
        SELECT o_orderpriority, n_name,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY o_orderpriority, n_name
      ), ranked AS (
        SELECT o_orderpriority, n_name, rev_c,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY rev_c DESC, n_name) AS rk
        FROM per_nat
      )
      SELECT o_orderpriority,
             string_agg(n_name, ',' ORDER BY rk) AS top_nations,
             CAST(CAST(sum(rev_c) AS BIGINT) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS top3_rev
      FROM ranked WHERE rk <= 3
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** q186: interpolated percentiles (the PERCENTILE_CONT / quantile_cont
    * semantic, vs the DISC/positional family q04/q05/q115 already pin):
    * per order priority, linearly interpolated p25/p50/p75 of the order
    * total. The interpolation is EXACT RATIONAL arithmetic: with
    * h = (n−1)·p/100, lo = ⌊h⌋ and the fractional part rem/100, the
    * answer is (100·c_lo + rem·(c_hi − c_lo)) / 10000 — integer cents
    * throughout, ONE IEEE division at the end — so the cross-engine
    * hazard in native quantile_cont (engine-specific double h and
    * two-rounding interpolation) never arises; the oracle replays the
    * same positional arithmetic. Selection by position needs only the
    * cents order (ties collapse to equal values), rn's orderkey
    * tiebreak just makes the window total. Scale: per-group sort, the
    * q04 discipline; a query that wants a sketch instead asks for one
    * by name (`tdigest_quantile` or `percentile_approx`). */
  val q186 = Q(
    "q186_percentile_cont",
    (s, d) => {
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
          Det.cents(col("o_totalprice")).as("c"))
      val w = Window.partitionBy(col("pri"))
        .orderBy(col("c"), col("o_orderkey"))
      val r = o
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("pri"))))
      def leg(p: Int): Seq[org.apache.spark.sql.Column] = Seq(
        max(when(expr(s"rn = (n - 1) * $p div 100 + 1"), col("c")))
          .as(s"lo_$p"),
        max(when(expr(s"rn = (n - 1) * $p div 100 + 2"), col("c")))
          .as(s"hi_$p"))
      val agg = r.groupBy(col("pri"))
        .agg(max(col("n")).as("n"),
          (leg(25) ++ leg(50) ++ leg(75)): _*)
      def interp(p: Int): org.apache.spark.sql.Column = {
        val rem = expr(s"(n - 1) * $p % 100")
        ((lit(100L) * col(s"lo_$p")
          + rem * (coalesce(col(s"hi_$p"), col(s"lo_$p")) - col(s"lo_$p")))
          .cast(DoubleType) / lit(10000.0)).as(s"p$p")
      }
      agg.select(col("pri"), col("n"), interp(25), interp(50), interp(75))
        .orderBy(col("pri"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderpriority AS pri, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
      ), r AS (
        SELECT pri, c,
               row_number() OVER (PARTITION BY pri ORDER BY c, o_orderkey)
                 AS rn,
               count(*) OVER (PARTITION BY pri) AS n
        FROM o
      ), agg AS (
        SELECT pri, max(n) AS n,
               max(CASE WHEN rn = (n - 1) * 25 // 100 + 1 THEN c END)
                 AS lo_25,
               max(CASE WHEN rn = (n - 1) * 25 // 100 + 2 THEN c END)
                 AS hi_25,
               max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN c END)
                 AS lo_50,
               max(CASE WHEN rn = (n - 1) * 50 // 100 + 2 THEN c END)
                 AS hi_50,
               max(CASE WHEN rn = (n - 1) * 75 // 100 + 1 THEN c END)
                 AS lo_75,
               max(CASE WHEN rn = (n - 1) * 75 // 100 + 2 THEN c END)
                 AS hi_75
        FROM r GROUP BY pri
      )
      SELECT pri, n,
             CAST(100 * lo_25 + ((n - 1) * 25 % 100)
                  * (coalesce(hi_25, lo_25) - lo_25) AS DOUBLE)
               / CAST(10000 AS DOUBLE) AS p25,
             CAST(100 * lo_50 + ((n - 1) * 50 % 100)
                  * (coalesce(hi_50, lo_50) - lo_50) AS DOUBLE)
               / CAST(10000 AS DOUBLE) AS p50,
             CAST(100 * lo_75 + ((n - 1) * 75 % 100)
                  * (coalesce(hi_75, lo_75) - lo_75) AS DOUBLE)
               / CAST(10000 AS DOUBLE) AS p75
      FROM agg ORDER BY pri"""))

  /** q188: Pearson correlation matrix (the ClickHouse corr() / stats
    * capability) between quantity, price, and discount per return flag —
    * computed from EXACT integer moments, with variable scaling chosen so
    * every product of sums stays under 2^63 through sf1.0 (price in
    * 10^5-cent units ≤ ~500, qty ≤ 50, discount in basis points ≤ 10;
    * the 100-TB path lifts the moments to DECIMAL(38,0), same algebra).
    * corr = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²) · √(n·Syy − Sy²)) — the
    * integer numerators convert exactly-rounded to double, sqrt is
    * IEEE-required correctly rounded, and the op ORDER √a·√b (never
    * √(a·b), whose product overflows) is identical in both engines, so
    * all three coefficients are bit-identical. One map-side-combinable
    * aggregate; zero-variance groups yield NULL by the guard, not ±Inf. */
  val q188 = Q(
    "q188_corr_matrix",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_quantity")).cast(LongType).as("x"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 100000")
            .as("y"),
          Det.cents(col("l_discount")).as("z"))
      val m = li.groupBy(col("flag")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("z")).as("sz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
      def corr(sab: String, sa: String, sb: String,
          saa: String, sbb: String): org.apache.spark.sql.Column = {
        val num = (col("n") * col(sab) - col(sa) * col(sb))
          .cast(DoubleType)
        val va = (col("n") * col(saa) - col(sa) * col(sa))
        val vb = (col("n") * col(sbb) - col(sb) * col(sb))
        when(va > 0L && vb > 0L,
          num / (sqrt(va.cast(DoubleType)) * sqrt(vb.cast(DoubleType))))
      }
      m.select(col("flag"), col("n"),
          corr("sxy", "sx", "sy", "sxx", "syy").as("corr_qty_price"),
          corr("sxz", "sx", "sz", "sxx", "szz").as("corr_qty_disc"),
          corr("syz", "sy", "sz", "syy", "szz").as("corr_price_disc"))
        .orderBy(col("flag"))
    },
    Some("""
      WITH v AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) // 100000 AS y,
               CAST(round(l_discount * 100) AS BIGINT) AS z
        FROM lineitem
      ), m AS (
        SELECT flag, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(z * z) AS BIGINT) AS szz,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * z) AS BIGINT) AS sxz,
               CAST(sum(y * z) AS BIGINT) AS syz
        FROM v GROUP BY flag
      )
      SELECT flag, n,
             CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
               THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             END AS corr_qty_price,
             CASE WHEN n * sxx - sx * sx > 0 AND n * szz - sz * sz > 0
               THEN CAST(n * sxz - sx * sz AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * szz - sz * sz AS DOUBLE)))
             END AS corr_qty_disc,
             CASE WHEN n * syy - sy * sy > 0 AND n * szz - sz * sz > 0
               THEN CAST(n * syz - sy * sz AS DOUBLE)
                 / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
                    * sqrt(CAST(n * szz - sz * sz AS DOUBLE)))
             END AS corr_price_disc
      FROM m ORDER BY flag"""))

  /** q192: BFS levels (bounded-hop reachability) over the q167
    * co-purchase graph — "everything within 3 hops of a seed part",
    * the graph primitive behind recall expansion / related-item
    * candidate generation. The distributed shape is frontier
    * iteration: per round, join the frontier against the adjacency
    * list, anti-join out already-visited vertices, checkpoint the
    * (vertex, level) ledger (the q68/q157 lineage-truncation
    * discipline — each round's plan stays O(1)). The ORACLE is a
    * DuckDB `WITH RECURSIVE` walk capped at the same depth with
    * min-level read-off — a hash match proves the iterative
    * DataFrame loop equals the recursive-SQL semantics cross-engine
    * (the same loop-vs-recursion differential as q102/q157). Scale:
    * each round is one edge-sized equi-join + a visited anti-join;
    * no vertex ever holds more than its (vertex, level) row, and the
    * frontier is data-partitioned — the textbook Pregel superstep as
    * plain DataFrames. */
  /** Shared co-purchase part graph (q192 / q204): undirected edges
    * between parts appearing together on 2+ orders, emitted as both
    * directions (src, dst), persisted — the per-order pair explosion is
    * the expensive stage and every graph consumer reads it from
    * multiple plan branches. */
  private def copurchaseAdj(
      s: SparkSession, d: String,
      // r9 (guide §2.4): an iterative consumer whose per-round
      // aggregate groups on one endpoint passes it here, so the cached
      // edge set is laid out for that aggregate ONCE and every round's
      // groupBy runs exchange-free (the rank/label side is node-sized
      // and broadcast-joined in)
      partitionKey: Option[String] = None): DataFrame = {
    val und = copurchasePairs(s, d).select(col("a"), col("b"))
    val adj = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    partitionKey.fold(adj)(k => adj.repartition(col(k))).persistTracked()
  }

  /** Undirected co-purchase pairs WITH their support count (a, b, n_ab)
    * — the shared explosion [[copurchaseAdj]] symmetrizes and
    * [[copurchaseAdjW]] turns into edge weights. */
  private def copurchasePairs(s: SparkSession, d: String): DataFrame = {
    // r9: no up-front distinct — the per-basket collect_set dedups
    // (orderkey, partkey) exactly; the separate pass was one full
    // shuffle + two hash aggregates of the fact projection for nothing
    val op = Tables.load(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    op.groupBy(col("l_orderkey"))
      .agg(expr("sort_array(collect_set(l_partkey))").as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps)),
               y -> struct(x AS a, y AS b))))""")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
  }

  /** Weighted co-purchase adjacency (q273): cost w = max(1, 10 − n_ab),
    * so frequently co-bought part pairs are CLOSER — the affinity-graph
    * convention that turns co-occurrence counts into path costs. */
  private def copurchaseAdjW(
      s: SparkSession, d: String): DataFrame = {
    val und = copurchasePairs(s, d)
      .withColumn("w", greatest(lit(1L), lit(10L) - col("n_ab")))
    und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst"),
        col("w")))
      .persistTracked()
  }

  /** DuckDB twin of [[copurchaseAdj]]: op/e/adj CTE text shared by the
    * q192/q204 oracles. */
  // AS MATERIALIZED on every multiply-referenced CTE: DuckDB 1.0.0 INLINES
  // a CTE at each reference site, so `op` (2 refs in e's self-join), `e`
  // (2 refs in adj) — and catastrophically the q274 peel chain, where each
  // peel references its predecessor twice and the plan DOUBLES per peel
  // (2^8 copies of this basket self-join; >70 CPU-min at sf0.01, r7
  // verdict item #1 — it zeroed the round's driver correctness artifact).
  // Materialization is the oracle-side analog of the Spark twins'
  // localCheckpoint: evaluate once, reference the result.
  private val copurchaseAdjSql = """op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      ), e AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n_ab
        FROM op x JOIN op y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
      ), adj AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM e
        UNION ALL
        SELECT b AS src, a AS dst FROM e
      )"""

  val q192 = Q(
    "q192_bfs_levels",
    (s, d) => {
      import s.implicits._
      val adj = copurchaseAdj(s, d)
      val source = adj.agg(min(col("src"))).first().getLong(0)
      var levels = Seq((source, 0))
        .toDF("part_key", "bfs_level").checkpointTracked()
      var frontier = levels
      // frontier/visited sets are node-sized: broadcast them into the
      // cached edge scan (guide §3.1) under the MEASURED-count gate
      // (r10): the r9 estimate-based hint silently fell back to a
      // per-round shuffle of the whole cached edge set at the 50× sweep
      // (checkpointed-frame stats are opaque) — counting the frames we
      // just checkpointed is exact and costs one cached-scan job
      var frontierCnt = 1L
      var levelsCnt = 1L
      import graft.operators.Gates.bcastIfUnder
      for (l <- 1 to 3) {
        val nextPre = bcastIfUnder(frontier, frontierCnt)
          .join(adj, col("part_key") === col("src"))
          .select(col("dst").as("part_key")).distinct()
          .join(bcastIfUnder(levels.select(col("part_key")), levelsCnt),
            Seq("part_key"), "left_anti")
          .withColumn("bfs_level", lit(l))
        // frontier count observed during the checkpoint job itself
        // (r10, guide §2.4) — no per-round cached-scan count job
        val (next, cnt) =
          graft.operators.Gates.checkpointCounted(nextPre, "q192")
        frontierCnt = cnt
        levelsCnt += frontierCnt
        levels = levels.unionAll(next).checkpointTracked()
        frontier = next
      }
      levels.orderBy(col("part_key"))
    },
    Some(s"""
      WITH RECURSIVE $copurchaseAdjSql, walk AS (
        SELECT (SELECT min(src) FROM adj) AS v, 0 AS lvl
        UNION
        SELECT adj.dst AS v, walk.lvl + 1 AS lvl
        FROM walk JOIN adj ON adj.src = walk.v
        WHERE walk.lvl < 3
      )
      SELECT v AS part_key, CAST(min(lvl) AS INTEGER) AS bfs_level
      FROM walk GROUP BY v ORDER BY part_key"""))

  /** q204: FIXED-POINT PageRank over the co-purchase part graph — graph
    * centrality as an oracle-checkable operator. Floating-point PageRank
    * can never be differential-tested exactly (sum order changes low
    * bits), so all arithmetic here is scaled-integer: ranks live in
    * units of 10⁻¹² (S = 10¹²), each round is
    *   r'(v) = (15·(S div n)) div 100
    *         + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100
    * — every operation an integer division or sum of non-negatives, so
    * Spark and DuckDB agree BIT FOR BIT after any number of rounds (the
    * q193/q159 exact-integer discipline applied to iteration). 4 rounds,
    * damping 0.85. Overflow headroom: Σ contrib ≤ S = 10¹², ×85 ≪ 2⁶³.
    * Scale: per round one edge-sized join + one grouped sum (identical
    * shuffle profile to Components' label rounds), node-sized rank
    * frame, per-round localCheckpoint to truncate lineage; the oracle
    * UNROLLS the four rounds as chained CTEs — no recursion, no
    * aggregate-in-recursion limits. */
  val q204 = Q(
    "q204_pagerank_fixedpoint",
    (s, d) => {
      // dst-partitioned: each round's contrib groupBy(dst) reuses the
      // cached layout with no exchange (shares is broadcast into it)
      val adj = copurchaseAdj(s, d, partitionKey = Some("dst"))
      val outdeg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val nodes = adj.select(col("src").as("v")).distinct()
        .persistTracked()
      val n = nodes.count()
      val scale = 1000000000000L
      val base = (15L * (scale / n)) / 100L
      var ranks = nodes.withColumn("r", lit(scale / n)).checkpointTracked()
      for (round <- 1 to 4) {
        // ranks/outdeg are node-sized: the planner broadcasts them into
        // the edge scan while their estimates fit the session threshold
        // (AQE converts at run time too); at cluster scale where nodes
        // outgrow it the join stays hash-partitioned on src
        val shares = ranks
          .join(outdeg, col("v") === col("src"))
          .withColumn("share", expr("r div deg"))
          .select(col("src"), col("share"))
        val contrib = adj
          .join(shares, Seq("src"))
          .groupBy(col("dst"))
          .agg(sum(col("share")).as("contrib"))
        // r10: the rank-assembly join ran as a per-round SortMergeJoin
        // of two node-sized frames (contrib's stats are opaque behind
        // the cached edge scan, so the planner's estimate declines) —
        // gate the broadcast on the MEASURED node count instead (contrib
        // has at most n rows, ~32 B each); beyond the ceiling the join
        // falls back unchanged
        val contribB = graft.operators.Gates.bcastIfUnder(contrib, n, 32L)
        // per-round truncation A/B'd against one end-of-loop
        // checkpoint: the composed 4-layer plan was ~25% SLOWER
        // (deep-plan optimization + one wide shuffle graph), so the
        // per-round materialization earns its job here
        ranks = nodes
          .join(contribB, col("v") === col("dst"), "left_outer")
          .select(
            col("v"),
            expr(s"${base}L + (85 * coalesce(contrib, 0L)) div 100")
              .as("r"))
          .checkpointTracked()
      }
      ranks
        .select(col("v").as("part_key"), col("r").as("rank_fp"))
        .orderBy(desc("rank_fp"), col("part_key"))
    },
    Some {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS (
        SELECT a.dst AS v, sum(r.r // o.deg) AS contrib
        FROM r${i - 1} r
        JOIN outdeg o ON o.src = r.v
        JOIN adj a ON a.src = r.v
        GROUP BY a.dst
      ), r$i AS (
        SELECT n.v,
               (15 * ((SELECT s FROM sc) // (SELECT c FROM nc))) // 100
               + (85 * coalesce(c.contrib, 0)) // 100 AS r
        FROM nodes n LEFT JOIN c$i c ON c.v = n.v
      )"""
      }.mkString(", ")
      s"""
      WITH $copurchaseAdjSql, outdeg AS (
        SELECT src, count(*) AS deg FROM adj GROUP BY src
      ), nodes AS (
        SELECT DISTINCT src AS v FROM adj
      ), sc AS (SELECT CAST(1000000000000 AS BIGINT) AS s),
      nc AS (SELECT count(*) AS c FROM nodes),
      r0 AS (
        SELECT v, (SELECT s FROM sc) // (SELECT c FROM nc) AS r
        FROM nodes
      ), $rounds
      SELECT v AS part_key, CAST(r AS BIGINT) AS rank_fp
      FROM r4
      ORDER BY rank_fp DESC, part_key"""
    })

  /** q193: largest-remainder proration — allocate a fixed integer
    * budget (1,000,003 cents — deliberately not round) across
    * customer nations proportionally to exact revenue, with the
    * classic Hamilton rounding: every nation gets ⌊B·rev/total⌋, and
    * the leftover cents go one each to the largest fractional
    * remainders (nation-name tiebreak). The B·rev product runs in
    * wide integer arithmetic (DECIMAL(38,0) in Spark, HUGEINT in the
    * oracle): rev cents pass 2⁶³/10⁶ ≈ 9.2·10¹² per nation somewhere
    * around SF 50-100, where a BIGINT multiply would silently wrap
    * under non-ANSI semantics and break Σ alloc = B. The quotient and
    * remainder both fit BIGINT again (⌊B·rev/total⌋ ≤ B; rem < total),
    * so both engines agree bit for bit at every sweep scale; the
    * invariant Σ alloc = B is what the spec pins.
    * Scale: the fact scan pays one grouped shuffle; floors, ranks and
    * the remainder hand-out all run on the nation-count-sized (≤25
    * row, dimension-BOUNDED) aggregate — the one place a bare
    * `Window.orderBy` is legitimate. */
  val q193 = Q(
    "q193_budget_proration",
    (s, d) => {
      val rev = Tables.load(s, d, "orders")
        .select(col("o_custkey"), Det.cents(col("o_totalprice")).as("c"))
        .join(Tables.load(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.load(s, d, "nation")
            .select(col("n_nationkey"), col("n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(sum(col("c")).as("rev_c"))
      val withTot = rev.crossJoin(broadcast(
          rev.agg(sum(col("rev_c")).as("tot"))))
        .withColumn("floor_c",
          expr("CAST(1000003 AS DECIMAL(38,0)) * rev_c div tot"))
        .withColumn("rem", expr(
          "CAST(CAST(1000003 AS DECIMAL(38,0)) * rev_c % tot AS BIGINT)"))
      val leftover = withTot.agg(
        (lit(1000003L) - sum(col("floor_c"))).as("leftover"))
      withTot.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("rem"), col("n_name"))))
        .select(col("n_name"), col("rev_c"),
          (col("floor_c") +
            when(col("rk") <= col("leftover"), lit(1L)).otherwise(lit(0L)))
            .as("alloc_c"))
        .orderBy(col("n_name"))
    },
    Some("""
      WITH rev AS (
        SELECT n_name,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
      ), base AS (
        SELECT n_name, rev_c,
               CAST(1000003 AS HUGEINT) * rev_c
                 // (SELECT sum(rev_c) FROM rev) AS floor_c,
               CAST(1000003 AS HUGEINT) * rev_c
                 % (SELECT sum(rev_c) FROM rev) AS rem
        FROM rev
      ), ranked AS (
        SELECT n_name, rev_c, floor_c,
               row_number() OVER (ORDER BY rem DESC, n_name) AS rk,
               (SELECT 1000003 - sum(floor_c) FROM base) AS leftover
        FROM base
      )
      SELECT n_name, rev_c,
             CAST(floor_c + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                  AS BIGINT) AS alloc_c
      FROM ranked ORDER BY n_name"""))

  /** q194: Pareto frontier (2-D skyline) — parts not dominated on
    * (total quantity, premium price = max line price): no other part
    * is at least as high on both axes and strictly higher on one — the
    * volume-vs-premium trade-off shortlist. The classic
    * multi-criteria shortlist (supplier scorecards, "best on some
    * trade-off" product lists) whose NAIVE form is the quadratic
    * NOT-EXISTS self-join the oracle runs. The scale path is the
    * sort-prune decomposition: (1) per-x class keep only the best y
    * (one grouped aggregate); (2) over the distinct-x table, the
    * EXCLUSIVE running max of best-y in x-descending order
    * ([[graft.operators.GlobalOrder.withOrderedCummax]] — range-
    * partitioned, never a single-partition window) marks each class
    * whose best y strictly beats every larger class's best; (3) join
    * survivors back. Each step is a bounded shuffle over |distinct x|
    * rows; ties on both axes survive together, exactly matching the
    * strict-dominance NOT EXISTS. */
  val q194 = Q(
    "q194_pareto_skyline",
    (s, d) => {
      val per = Tables.load(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("qty"),
          max(Det.cents(col("l_extendedprice"))).as("top_c"))
        .persistTracked()
      val ymax = per.groupBy(col("qty")).agg(max(col("top_c")).as("ymax"))
      val marked = graft.operators.GlobalOrder.withOrderedCummax(
        ymax, Seq(col("qty").desc), col("ymax"), "m_strict",
        // ymax is one row per qty BY CONSTRUCTION (the groupBy above) —
        // skip the operator's O(input) distinctness job
        assertDistinct = false)
      val live = marked.filter(col("ymax") > col("m_strict"))
        .select(col("qty"), col("ymax"))
      per.join(live, Seq("qty"))
        .filter(col("top_c") === col("ymax"))
        .select(col("l_partkey").as("part_key"), col("qty"), col("top_c"))
        .orderBy(col("part_key"))
    },
    Some("""
      WITH per AS (
        SELECT l_partkey AS part_key,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                 AS qty,
               CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS top_c
        FROM lineitem GROUP BY 1
      )
      SELECT part_key, qty, top_c FROM per p
      WHERE NOT EXISTS (
        SELECT 1 FROM per o
        WHERE o.qty >= p.qty AND o.top_c >= p.top_c
          AND (o.qty > p.qty OR o.top_c > p.top_c))
      ORDER BY part_key"""))

  /** q195: Holt linear-trend smoothing backtest (Holt 1957 double
    * exponential smoothing — the level+trend sibling of q146's EWMA:
    * EWMA lags a trending series systematically; Holt carries an
    * explicit trend term b and forecasts l+b) over the monthly revenue
    * series, with one-step-ahead forecasts and their absolute errors —
    * the walk-forward backtest a forecasting pipeline reports.
    * Determinism: α=β=0.5 makes every update exact halvings of doubles
    * built from exact BIGINT cents; the (l, b) state folds in month
    * order as a 2-element DOUBLE array with the SAME expression tree on
    * both engines (the q153/q168 sequential-fold convention), seeded
    * l₂=x₂, b₂=x₂−x₁. Scale: the unbounded work is one monthly-rollup
    * shuffle; the folds are O(months²) on the calendar-bounded array
    * (80 months at any SF) in a single task. */
  val q195 = Q(
    "q195_holt_trend",
    (s, d) => {
      val monthly = Tables.load(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType)
          .as("mon"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
      monthly
        .agg(expr("sort_array(collect_list(struct(mon, c)))").as("arr"))
        .withColumn("xs", expr("transform(arr, e -> CAST(e.c AS DOUBLE))"))
        .withColumn("m", expr("size(arr)"))
        .select(expr(
          """explode(transform(sequence(3, m), t -> struct(
               element_at(arr, t).mon AS mon,
               element_at(xs, t) AS actual_c,
               aggregate(slice(xs, 3, t - 3),
                 array(element_at(xs, 2),
                       element_at(xs, 2) - element_at(xs, 1)),
                 (acc, x) -> array(
                   0.5D * x + 0.5D * (acc[0] + acc[1]),
                   0.5D * ((0.5D * x + 0.5D * (acc[0] + acc[1])) - acc[0])
                     + 0.5D * acc[1])) AS st)))""").as("r"))
        .select(col("r.mon").as("mon"),
          (col("r.actual_c") / lit(100.0D)).as("rev_month"),
          ((col("r.st").getItem(0) + col("r.st").getItem(1)) / lit(100.0D))
            .as("forecast_rev"),
          abs((col("r.actual_c") / lit(100.0D)) -
            ((col("r.st").getItem(0) + col("r.st").getItem(1))
              / lit(100.0D))).as("abs_err"))
        .orderBy(col("mon"))
    },
    Some("""
      WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders GROUP BY 1
      ), series AS (
        SELECT list(mon ORDER BY mon) AS mons,
               list_transform(list(c ORDER BY mon),
                 v -> CAST(v AS DOUBLE)) AS xs
        FROM monthly
      ), folded AS (
        SELECT mons[t] AS mon, xs[t] AS actual_c,
               list_reduce(
                 list_prepend([xs[2], xs[2] - xs[1]],
                   list_transform(xs[3:t-1],
                     x -> [x, CAST(0 AS DOUBLE)])),
                 (acc, e) -> [
                   0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                   0.5 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                     + 0.5 * acc[2]]) AS st
        FROM series, unnest(range(3, len(xs) + 1)) AS u(t)
      )
      SELECT mon,
             actual_c / 100.0 AS rev_month,
             (st[1] + st[2]) / 100.0 AS forecast_rev,
             abs(actual_c / 100.0 - (st[1] + st[2]) / 100.0) AS abs_err
      FROM folded
      ORDER BY mon"""))

  /** q197: percent-of-parent hierarchical shares — each nation's
    * revenue as a share of its region AND of the world: the two-level
    * "% of parent" column every BI rollup renders next to the raw
    * number (ROLLUP/CUBE (q46/q50) give the parent totals as extra
    * rows; this gives the RATIOS on the child rows). Exactness: all
    * totals are exact BIGINT cents; each share is one IEEE division of
    * identical operands. Scale: one fact shuffle to the (region,
    * nation) grain; the parent windows run over the ≤25-row dimension-
    * bounded aggregate. */
  val q197 = Q(
    "q197_share_of_parent",
    (s, d) => {
      val rev = Tables.load(s, d, "orders")
        .select(col("o_custkey"), Det.cents(col("o_totalprice")).as("c0"))
        .join(Tables.load(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.load(s, d, "nation")
            .select(col("n_nationkey"), col("n_name"),
              col("n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, d, "region")
            .select(col("r_regionkey"), col("r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("c0")).as("c"))
        .persistTracked()
      val withParents = rev
        .withColumn("region_c",
          sum(col("c")).over(Window.partitionBy(col("r_name"))))
        .crossJoin(broadcast(rev.agg(sum(col("c")).as("total_c"))))
      withParents.select(
          col("r_name"), col("n_name"),
          (col("c").cast(DoubleType) / lit(100.0D)).as("revenue"),
          (col("c").cast(DoubleType) / col("region_c").cast(DoubleType))
            .as("share_of_region"),
          (col("c").cast(DoubleType) / col("total_c").cast(DoubleType))
            .as("share_of_total"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""
      WITH rev AS (
        SELECT r_name, n_name,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
      )
      SELECT r_name, n_name,
             CAST(c AS DOUBLE) / 100.0 AS revenue,
             CAST(c AS DOUBLE)
               / CAST(sum(c) OVER (PARTITION BY r_name) AS DOUBLE)
               AS share_of_region,
             CAST(c AS DOUBLE)
               / CAST((SELECT sum(c) FROM rev) AS DOUBLE)
               AS share_of_total
      FROM rev
      ORDER BY r_name, n_name"""))

  /** TPC-H Q2 shape — min-cost supplier per part: the classic correlated
    * MIN subquery (`ps_supplycost = (SELECT min(ps_supplycost) …)`),
    * decorrelated the way Catalyst would — a per-part MIN aggregate
    * joined back on (part, cost) — over a partsupp ANALOG derived from
    * lineitem (the fixture has no partsupp table): each (part, supplier)
    * pair's supply cost is its cheapest observed unit price in exact
    * integer cents, `cents(extendedprice) div qty` (qty is an integer-
    * valued 1..50, both operands non-negative, so Spark `div` ≡ DuckDB
    * `//` exactly). Every comparison and MIN runs on exact BIGINTs —
    * no float boundary ambiguity — and ties at the minimum keep ALL
    * achieving suppliers, as in the genuine Q2. Scale: the partsupp
    * analog is one lineitem-sized aggregate; supplier/nation/region are
    * size-conditionally broadcast dims; the min-cost join is
    * aggregate-sized on both sides. */
  val q206 = Q(
    "q206_min_cost_supplier",
    (s, d) => {
      val unitCents = expr(
        s"${Det.centsSql("l_extendedprice")}" +
          " div CAST(l_quantity AS BIGINT)").as("unit_cents")
      val eurSupp = Tables.load(s, d, "supplier")
        .join(
          Tables.load(s, d, "nation")
            .select(col("n_nationkey"), col("n_name"),
              col("n_regionkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(
          Tables.load(s, d, "region")
            .filter(col("r_name") === "EUROPE")
            .select(col("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val ps = Tables.load(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), unitCents)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("unit_cents")).as("supply_cents"))
        .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
        .persistTracked()
      val minCost = ps.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("supply_cents")).as("min_cents"))
      ps
        .join(minCost,
          col("l_partkey") === col("mk") &&
            col("supply_cents") === col("min_cents"))
        .join(Tables.load(s, d, "part")
            .filter(col("p_size") <= 10)
            .select(col("p_partkey"), col("p_name"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .select(
          col("p_partkey"), col("p_name"), col("p_type"),
          col("s_name"), col("n_name"),
          (col("supply_cents").cast(DoubleType) / lit(100.0D))
            .as("supply_cost"))
        // ordering by the displayed double is safe: cents < 2^53 make
        // /100.0 exact and injective, so cents-order == cost-order
        .orderBy(col("supply_cost"), col("p_partkey"), col("s_name"))
        .limit(100)
    },
    Some("""
      WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(round(l_extendedprice * 100) AS BIGINT)
                   // CAST(l_quantity AS BIGINT)) AS supply_cents
        FROM lineitem GROUP BY 1, 2
      ), eur AS (
        SELECT s_suppkey, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
      ), pse AS (
        SELECT ps.*, eur.s_name, eur.n_name
        FROM ps JOIN eur ON ps.l_suppkey = eur.s_suppkey
      )
      SELECT p_partkey, p_name, p_type, s_name, n_name,
             CAST(supply_cents AS DOUBLE) / 100.0 AS supply_cost
      FROM pse
      JOIN part ON l_partkey = p_partkey AND p_size <= 10
      WHERE supply_cents = (SELECT min(p2.supply_cents) FROM pse p2
                            WHERE p2.l_partkey = pse.l_partkey)
      ORDER BY supply_cost, p_partkey, s_name
      LIMIT 100"""))

  /** TPC-H Q18 shape — large-volume orders: `o_orderkey IN (SELECT
    * l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(qty) > T)`,
    * planned as aggregate → filter → join (the IN-over-HAVING
    * decorrelation). The threshold is SCALE-RELATIVE — more than twice
    * the mean per-order quantity, compared in pure integers
    * (`sum_qty · n_orders > 2 · total_qty`) via a 1-row broadcast of the
    * global aggregate — so the query selects the same tail shape at
    * every SF instead of going empty or total under an absolute
    * constant. Scale: one lineitem-sized aggregate, a 1-row broadcast,
    * and an aggregate-sized join against orders (the big-side scan
    * happens once); top-100 via TakeOrderedAndProject, never a global
    * sort. */
  val q207 = Q(
    "q207_large_volume_orders",
    (s, d) => {
      val oq = Tables.load(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(LongType)).as("sum_qty"))
        .persistTracked()
      val tot = oq.agg(
        sum(col("sum_qty")).as("total_qty"),
        count(lit(1)).as("n_orders"))
      val big = oq.crossJoin(broadcast(tot))
        .filter(col("sum_qty") * col("n_orders") >
          col("total_qty") * lit(2L))
        .select(col("l_orderkey"), col("sum_qty"))
      big
        .join(
          Tables.load(s, d, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              to_date(col("o_orderdate")).as("o_date"),
              col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, d, "customer")
            .select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(
          col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_date").cast(StringType).as("o_date"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("sum_qty"), col("o_orderkey"))
        .limit(100)
    },
    Some("""
      WITH oq AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY 1
      ), tot AS (
        SELECT sum(sum_qty) AS total_qty, count(*) AS n_orders FROM oq
      )
      SELECT c_name, c_custkey, o_orderkey,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date,
             o_totalprice, sum_qty
      FROM oq
      CROSS JOIN tot
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE sum_qty * n_orders > total_qty * 2
      ORDER BY sum_qty DESC, o_orderkey
      LIMIT 100"""))

  /** TPC-H Q20 shape — suppliers shipping an EXCESS SHARE of a part:
    * the nested correlated-aggregate subquery (`ps_availqty > 0.5 *
    * (SELECT sum(l_quantity) …)`), decorrelated as two stacked
    * aggregates joined on the correlation key. The share test is
    * FAIR-SHARE-RELATIVE and pure-integer — supplier's pivot-year shipped
    * quantity of the part × (number of suppliers shipping that part)
    * > 2 × the part's total — so it measures concentration identically
    * at every SF (an absolute 30%-of-total cut selects everything when
    * suppliers-per-part is small and nothing when it is large). The
    * year filter is pushed to the scan. Scale: two bounded aggregates
    * over one lineitem scan, dims broadcast, result supplier-sized. */
  val q208 = Q(
    "q208_excess_suppliers",
    (s, d) => {
      val sq = Tables.load(s, d, "lineitem")
        .filter(year(to_date(col("l_shipdate"))) === lastFullYear(s, d))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(LongType)).as("sq"))
        .persistTracked()
      val pq = sq.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("sq")).as("tq"), count(lit(1)).as("nsupp"))
      val excess = sq
        .join(pq, col("l_partkey") === col("pk"))
        .filter(col("sq") * col("nsupp") > col("tq") * lit(2L))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_excess_parts"),
          sum(col("sq")).as("excess_qty"))
      excess
        .join(Tables.load(s, d, "supplier")
            .select(col("s_suppkey"), col("s_name"),
              col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.load(s, d, "nation")
            .select(col("n_nationkey"), col("n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"),
          col("n_excess_parts"), col("excess_qty"))
        .orderBy(desc("n_excess_parts"), desc("excess_qty"),
          col("s_name"))
    },
    Some(s"""
      WITH sq AS (
        SELECT l_partkey, l_suppkey,
               sum(CAST(l_quantity AS BIGINT)) AS sq
        FROM lineitem
        WHERE year(CAST(l_shipdate AS DATE)) = $pivotYearSql
        GROUP BY 1, 2
      ), pq AS (
        SELECT l_partkey AS pk, sum(sq) AS tq, count(*) AS nsupp
        FROM sq GROUP BY 1
      ), excess AS (
        SELECT l_suppkey, count(*) AS n_excess_parts,
               CAST(sum(sq) AS BIGINT) AS excess_qty
        FROM sq JOIN pq ON l_partkey = pk
        WHERE sq * nsupp > tq * 2
        GROUP BY 1
      )
      SELECT s_name, n_name, n_excess_parts, excess_qty
      FROM excess
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      ORDER BY n_excess_parts DESC, excess_qty DESC, s_name"""))

  /** TPC-H Q11 shape — parts holding an outsized share of total value:
    * `GROUP BY … HAVING sum(value) > FRACTION × (SELECT sum(value)
    * FROM …)` — the global-scalar-subquery HAVING, planned as the
    * per-part aggregate cross-joined with a 1-row broadcast of the
    * grand total (computed from the SAME aggregate, one fact scan
    * total). The cut is parts above 1.5× the MEAN part value, compared
    * in pure integer cents (`2 · value_c · n_parts > 3 · total_c`) —
    * Q11's `0.0001/SF` fraction made scale-relative without a float
    * boundary (the fixture's per-part values top out at ~1.9× mean, so
    * 1.5× selects a real tail at every SF where 2× selects nothing;
    * the product stays under 2^63 through ~sf1000). The displayed
    * value and share are single IEEE divisions of identical exact
    * integers — bit-identical cross-engine. */
  val q209 = Q(
    "q209_important_parts",
    (s, d) => {
      val pv = Tables.load(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(Det.cents(col("l_extendedprice"))).as("value_c"))
        .persistTracked()
      val tot = pv.agg(
        sum(col("value_c")).as("total_c"),
        count(lit(1)).as("n_parts"))
      pv.crossJoin(broadcast(tot))
        .filter(col("value_c") * col("n_parts") * lit(2L) >
          col("total_c") * lit(3L))
        .select(
          col("l_partkey").as("p_partkey"),
          (col("value_c").cast(DoubleType) / lit(100.0D)).as("value"),
          (col("value_c").cast(DoubleType) /
            col("total_c").cast(DoubleType)).as("share_of_total"))
        .orderBy(desc("value"), col("p_partkey"))
    },
    Some(s"""
      WITH pv AS (
        SELECT l_partkey, sum(${Det.centsSql("l_extendedprice")})
                 AS value_c
        FROM lineitem GROUP BY 1
      ), tot AS (
        SELECT sum(value_c) AS total_c, count(*) AS n_parts FROM pv
      )
      SELECT l_partkey AS p_partkey,
             CAST(value_c AS DOUBLE) / 100.0 AS value,
             CAST(value_c AS DOUBLE) / CAST(total_c AS DOUBLE)
               AS share_of_total
      FROM pv, tot
      WHERE value_c * n_parts * 2 > total_c * 3
      ORDER BY value DESC, p_partkey"""))

  /** Exact revenue in 10⁻⁴-dollar units (q177's idiom): cents × the
    * integer discount-complement percentage — every operand an exact
    * BIGINT, so group sums are order-independent and bit-identical
    * cross-engine; display values divide ONCE at the end. */
  private def revU: org.apache.spark.sql.Column =
    Det.cents(col("l_extendedprice")) *
      (lit(100L) - round(col("l_discount") * 100).cast(LongType))
  private val revUSql: String =
    s"${Det.centsSql("l_extendedprice")} * " +
      "(100 - CAST(round(l_discount * 100) AS BIGINT))"

  /** TPC-H Q3 shape — shipping priority: the classic 3-way
    * customer-segment join with the date split (orders placed BEFORE
    * the cut, lineitems shipped AFTER it), revenue per open order,
    * top-10. Completes the full 22-shape TPC-H set together with
    * q222–q227 (Q1/Q5/Q7/Q8/Q10/Q13/Q14/Q17/Q19/Q21/Q22 and
    * Q2/Q11/Q18/Q20 were already covered). Revenue in exact 10⁻⁴
    * units; top-10 via TakeOrderedAndProject. */
  val q221 = Q(
    "q221_shipping_priority",
    (s, d) => {
      val cut = "1999-01-01"
      val cust = Tables.load(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      Tables.load(s, d, "orders")
        .filter(to_date(col("o_orderdate")) < lit(cut))
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("o_date"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(
          Tables.load(s, d, "lineitem")
            .filter(to_date(col("l_shipdate")) > lit(cut))
            .select(col("l_orderkey"), revU.as("rev_u")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_date"))
        .agg(sum(col("rev_u")).as("rev_u"))
        .select(col("o_orderkey"),
          col("o_date").cast(StringType).as("o_date"),
          (col("rev_u").cast(DoubleType) / lit(10000.0D)).as("revenue"))
        .orderBy(desc("rev_u"), col("o_orderkey"))
        .limit(10)
    },
    Some(s"""
      SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date,
             CAST(sum($revUSql) AS DOUBLE) / 10000.0 AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'
        AND CAST(l_shipdate AS DATE) > DATE '1999-01-01'
      GROUP BY o_orderkey, o_date
      ORDER BY sum($revUSql) DESC, o_orderkey
      LIMIT 10"""))

  /** TPC-H Q4 shape — order-priority check via EXISTS: orders in a
    * window having AT LEAST ONE late-shipped lineitem (shipdate more
    * than 60 days after the order date — the commitdate/receiptdate
    * lateness test re-expressed on this schema), counted per priority.
    * The EXISTS decorrelates to a LEFT-SEMI join with a compound
    * condition — the semi-join shape q52's same-text EXISTS and q172's
    * Q21 double-EXISTS bracket from either side. */
  val q222 = Q(
    "q222_priority_exists",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      Tables.load(s, d, "orders")
        .filter(year(to_date(col("o_orderdate"))) === lastFullYear(s, d))
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("od"))
        .join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("sd") > date_add(col("od"), 60),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE year(CAST(o_orderdate AS DATE)) = $pivotYearSql
        AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND CAST(l_shipdate AS DATE)
                > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** TPC-H Q6 shape — the forecasting-revenue-change single-table
    * aggregate: tight range predicates on three columns, all PUSHED to
    * the scan, one SUM of price×discount. The discount band compares
    * in integer percent (round(d·100) ∈ [5,7]) — no float boundary;
    * the revenue-delta sum runs in exact 10⁻⁶-dollar units
    * (cents × integer percent). The simplest shape in the set — and
    * the purest pushdown/codegen showcase. */
  val q223 = Q(
    "q223_revenue_delta",
    (s, d) =>
      Tables.load(s, d, "lineitem")
        .filter(year(to_date(col("l_shipdate"))) === lastFullYear(s, d) &&
          round(col("l_discount") * 100).cast(LongType).between(5L, 7L) &&
          col("l_quantity") < 24.0)
        .agg(
          sum(Det.cents(col("l_extendedprice")) *
            round(col("l_discount") * 100).cast(LongType)).as("rev_u"),
          count(lit(1)).as("n_items"))
        .select(
          (col("rev_u").cast(DoubleType) / lit(1000000.0D))
            .as("revenue_delta"),
          col("n_items")),
    Some(s"""
      SELECT CAST(sum(${Det.centsSql("l_extendedprice")}
                      * CAST(round(l_discount * 100) AS BIGINT))
                  AS DOUBLE) / 1000000.0 AS revenue_delta,
             count(*) AS n_items
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) = $pivotYearSql
        AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        AND l_quantity < 24"""))

  /** TPC-H Q9 shape — product-type profit by nation and year: the
    * 4-table join with a LIKE filter on part names and profit =
    * revenue − cost aggregated per (nation, order-year). Cost uses the
    * retail price at an 80% ratio (the fixture has no partsupp
    * supplycost); both terms in exact 10⁻⁴ units so the possibly-
    * NEGATIVE profit sums are order-independent BIGINTs. Dims
    * broadcast; one fact-sized shuffle to (nation, year). */
  val q224 = Q(
    "q224_product_profit",
    (s, d) => {
      val amountU = revU -
        graft.queries.Det.cents(col("p_retailprice")) *
          col("l_quantity").cast(LongType) * lit(80L)
      Tables.load(s, d, "lineitem")
        .join(Tables.load(s, d, "part")
            .filter(col("p_name").like("%widget%"))
            .select(col("p_partkey"), col("p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.load(s, d, "supplier")
            .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.load(s, d, "nation")
            .select(col("n_nationkey"), col("n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(to_date(col("l_shipdate"))).as("yr"))
        .agg(sum(amountU).as("amount_u"))
        .select(col("n_name"), col("yr"),
          (col("amount_u").cast(DoubleType) / lit(10000.0D))
            .as("profit"))
        .orderBy(col("n_name"), desc("yr"))
    },
    Some(s"""
      SELECT n_name, year(CAST(l_shipdate AS DATE)) AS yr,
             CAST(sum($revUSql
                      - ${Det.centsSql("p_retailprice")}
                        * CAST(l_quantity AS BIGINT) * 80)
                  AS DOUBLE) / 10000.0 AS profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name, yr
      ORDER BY n_name, yr DESC"""))

  /** TPC-H Q12 shape — conditional CASE counts per category with a
    * date window: per return flag (the schema's shipmode stand-in),
    * how many pivot-year-shipped lines belong to URGENT/HIGH-priority orders
    * vs the rest. Pure integer counts; the orders side carries only
    * (key, priority-class bit) into the join. */
  val q225 = Q(
    "q225_priority_mix",
    (s, d) => {
      val ords = Tables.load(s, d, "orders")
        .select(col("o_orderkey"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("hi"))
      Tables.load(s, d, "lineitem")
        .filter(year(to_date(col("l_shipdate"))) === lastFullYear(s, d))
        .select(col("l_orderkey"), col("l_returnflag"))
        .join(ords, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("hi"), 1L).otherwise(0L)).as("high_line_count"),
          sum(when(col("hi"), 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      SELECT l_returnflag,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE year(CAST(l_shipdate AS DATE)) = $pivotYearSql
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** TPC-H Q15 shape — top supplier via a revenue view and a scalar
    * MAX subquery: quarterly revenue per supplier, then the supplier(s)
    * achieving the maximum — equality against a 1-row broadcast
    * aggregate OVER THE SAME derived table (one fact scan feeds both),
    * ties kept as in the genuine Q15. Exact 10⁻⁴-unit revenue makes
    * the MAX and the equality float-free. */
  val q226 = Q(
    "q226_top_supplier",
    (s, d) => {
      val py = lastFullYear(s, d)
      val rev = Tables.load(s, d, "lineitem")
        .filter(to_date(col("l_shipdate")).between(s"$py-01-01",
          s"$py-03-31"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revU).as("rev_u"))
        .persistTracked()
      rev
        .crossJoin(broadcast(rev.agg(max(col("rev_u")).as("max_u"))))
        .filter(col("rev_u") === col("max_u"))
        .join(Tables.load(s, d, "supplier")
            .select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_u").cast(DoubleType) / lit(10000.0D))
            .as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some(s"""
      WITH revenue AS (
        SELECT l_suppkey, sum($revUSql) AS rev_u
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE)
              BETWEEN make_date($pivotYearSql, 1, 1)
                  AND make_date($pivotYearSql, 3, 31)
        GROUP BY l_suppkey
      )
      SELECT s_suppkey, s_name,
             CAST(rev_u AS DOUBLE) / 10000.0 AS total_revenue
      FROM revenue JOIN supplier ON l_suppkey = s_suppkey
      WHERE rev_u = (SELECT max(rev_u) FROM revenue)
      ORDER BY s_suppkey"""))

  /** TPC-H Q16 shape — supplier counts by part attributes with a
    * NOT IN exclusion subquery: distinct suppliers per
    * (brand, type, size) over lineitem-observed part-supplier pairs,
    * excluding a supplier denylist (low account balance standing in
    * for the comment filter). NOT IN plans as a null-safe ANTI join;
    * the count is a DISTINCT aggregate over the pair table. */
  val q227 = Q(
    "q227_supplier_counts",
    (s, d) => {
      val excluded = Tables.load(s, d, "supplier")
        .filter(col("s_acctbal") < 1000.0)
        .select(col("s_suppkey").as("xkey"))
      val pairs = Tables.load(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(excluded, col("l_suppkey") === col("xkey"), "left_anti")
      pairs
        .join(Tables.load(s, d, "part")
            .filter(col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
            .select(col("p_partkey"), col("p_brand"), col("p_type"),
              col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
          col("p_size"))
    },
    Some("""
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      JOIN part ON l_partkey = p_partkey
      WHERE p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))

  /** q268: APPROXIMATE QUERY PROCESSING via deterministic hash
    * sampling — the estimate-next-to-truth readout an interactive
    * warehouse serves while the exact job runs: revenue by return flag
    * estimated from the md5 1/8 sample (q54's content-hash coordinate
    * — portable and repartition-stable where a seeded RNG is neither)
    * scaled by the inverse sampling rate, beside the exact answer and
    * the realized relative error. Everything stays exact-integer
    * (sample cent-sums × 8) until the display divisions, and the
    * sample membership is a pure function of l_orderkey — so both
    * engines compute the SAME estimate and the error column is a
    * genuine accuracy measurement, not noise. The estimator is
    * unbiased under the hash's uniformity; the fixture's realized
    * errors land at the percent level and the spec pins a loose bound.
    * At 100 TB the sample scan is 1/8 of the bill with zero extra
    * state — the cheapest latency/accuracy dial there is, and the
    * honest baseline every sketch (q61/q69/q119) should beat to earn
    * its memory. */
  val q268 = Q(
    "q268_aqp_estimate",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"),
          Det.cents(col("l_extendedprice")).as("cents"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_exact"), sum(col("cents")).as("ec"))
      val est = li.filter(expr(Det.hashSampleExpr("l_orderkey")))
        .groupBy(col("l_returnflag"))
        .agg((count(lit(1)) * 8).as("n_est"),
          (sum(col("cents")) * 8).as("sc"))
      exact.join(est, Seq("l_returnflag"))
        .select(
          col("l_returnflag"), col("n_exact"), col("n_est"),
          (col("ec").cast(DoubleType) / lit(100.0)).as("exact_value"),
          (col("sc").cast(DoubleType) / lit(100.0)).as("est_value"),
          ((col("sc") - col("ec")).cast(DoubleType) / col("ec"))
            .as("rel_err"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      WITH base AS (
        SELECT l_returnflag, l_orderkey,
               ${Det.centsSql("l_extendedprice")} AS cents
        FROM lineitem
      ), exact AS (
        SELECT l_returnflag, count(*) AS n_exact,
               CAST(sum(cents) AS BIGINT) AS ec
        FROM base GROUP BY 1
      ), est AS (
        SELECT l_returnflag, count(*) * 8 AS n_est,
               CAST(sum(cents) * 8 AS BIGINT) AS sc
        FROM base
        WHERE ${Det.hashSampleSql("l_orderkey")}
        GROUP BY 1
      )
      SELECT l_returnflag, n_exact, n_est,
             CAST(ec AS DOUBLE) / 100 AS exact_value,
             CAST(sc AS DOUBLE) / 100 AS est_value,
             CAST(sc - ec AS DOUBLE) / ec AS rel_err
      FROM exact JOIN est USING (l_returnflag)
      ORDER BY l_returnflag"""))

  /** q273: WEIGHTED single-source shortest paths (bounded-hop
    * Bellman-Ford) over the co-purchase graph — q192's BFS upgraded with
    * edge COSTS (w = max(1, 10 − co-order count): strong affinities are
    * cheap hops), the "how related, not just whether reachable" readout
    * behind weighted recall expansion and substitution distance. The
    * distributed shape is R relaxation rounds: dist' = min(dist,
    * min over edges of dist[src] + w) — after round R, dist(v) is
    * EXACTLY the cheapest cost over all paths of ≤ R edges (positive
    * weights make ≤R-hop walks reduce to ≤R-hop paths, which is also
    * what the oracle's hop-capped recursive walk enumerates — the same
    * loop-vs-recursion differential as q192, now over (cost, hops)
    * states). All costs are exact BIGINTs. Scale: each round is one
    * edge-sized equi-join + one grouped min with map-side combine; the
    * dist frame is node-sized and per-round localCheckpoint keeps the
    * plan O(1) — the Pregel shortest-paths example as plain DataFrames. */
  val q273 = Q(
    "q273_weighted_sssp",
    (s, d) => {
      import s.implicits._
      val adj = copurchaseAdjW(s, d)
      val source = adj.agg(min(col("src"))).first().getLong(0)
      var dist = Seq((source, 0L)).toDF("part_key", "cost")
        .checkpointTracked()
      // node-sized dist broadcast under the measured-count gate (r10 —
      // the q192 rationale: estimates over a checkpointed frame fall
      // back to per-round edge shuffles at 50× scale)
      var distCnt = 1L
      for (_ <- 1 to 3) {
        // dist count observed during the checkpoint job (r10, §2.4)
        val (d2, c2) = graft.operators.Gates.checkpointCounted(
          graft.operators.Gates.bcastIfUnder(dist, distCnt)
            .join(adj, col("part_key") === col("src"))
            .select(col("dst").as("part_key"),
              (col("cost") + col("w")).as("cost"))
            .unionAll(dist)
            .groupBy(col("part_key")).agg(min(col("cost")).as("cost")),
          "q273")
        dist = d2
        distCnt = c2
      }
      dist.orderBy(col("part_key"))
    },
    Some(s"""
      WITH RECURSIVE $copurchaseAdjSql, adjw AS (
        SELECT a AS src, b AS dst, greatest(1, 10 - n_ab) AS w FROM e
        UNION ALL
        SELECT b AS src, a AS dst, greatest(1, 10 - n_ab) AS w FROM e
      ), walk AS (
        SELECT (SELECT min(src) FROM adjw) AS v, CAST(0 AS BIGINT) AS cost,
               0 AS hops
        UNION
        SELECT adjw.dst AS v, walk.cost + adjw.w AS cost,
               walk.hops + 1 AS hops
        FROM walk JOIN adjw ON adjw.src = walk.v
        WHERE walk.hops < 3
      )
      SELECT v AS part_key, min(cost) AS cost
      FROM walk GROUP BY v ORDER BY part_key"""))

  /** q274: K-CORE decomposition (k = 3) of the co-purchase graph by
    * iterative peeling — the density filter graph pipelines run before
    * expensive per-node work (community mining, embedding training):
    * repeatedly delete nodes with degree < k in the surviving induced
    * subgraph; what remains is the maximal subgraph of min-degree ≥ k.
    * Peeling is run for EXACTLY 8 rounds in both engines, so the result
    * is well-defined cross-engine even before convergence, and the
    * emitted `converged` flag (survivor count unchanged over the last
    * round — survivor sets only shrink, so equal counts mean equal SETS
    * and a true fixpoint) certifies when 8 rounds reached the real
    * 3-core. The oracle UNROLLS the 8 peels as chained CTEs (no
    * aggregate-in-recursion limits — the q204 discipline). Scale: each
    * round is one degree aggregate + two semi-joins on an edge set that
    * only shrinks; per-round localCheckpoint truncates lineage. */
  val q274 = Q(
    "q274_kcore",
    (s, d) => {
      // src-partitioned edge cache + broadcast keep sets (r9, guide
      // §2.4/§3.1): the degree groupBy(src) reuses the cached layout,
      // and with both semi-join sides node-sized and broadcast the
      // surviving edge set KEEPS hashpartitioning(src) through every
      // peel — all 8 rounds run exchange-free while the keep set fits
      // the broadcast threshold (falls back to shuffles beyond)
      val adj = copurchaseAdj(s, d, partitionKey = Some("src"))
      var edges = adj
      var survivors = adj // reassigned every round; round 8's keep set
      var counts = List.empty[Long]
      for (_ <- 1 to 8) {
        // survivor count observed during the checkpoint job (r10, §2.4)
        val (keep, keepCnt) = graft.operators.Gates.checkpointCounted(
          edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 3).select(col("src").as("v")),
          "q274")
        counts = keepCnt :: counts
        survivors = keep
        // measured-count broadcast gate (r10): the estimate-based hint
        // fell back to per-round edge shuffles once the checkpointed
        // keep set's stats went opaque at sweep scale
        edges = edges
          .join(graft.operators.Gates.bcastIfUnder(
            keep.select(col("v").as("src")), counts.head), Seq("src"),
            "left_semi")
          .join(graft.operators.Gates.bcastIfUnder(
            keep.select(col("v").as("dst")), counts.head), Seq("dst"),
            "left_semi")
          .select(col("src"), col("dst"))
          .checkpointTracked()
      }
      val converged = counts.head == counts.tail.head
      // survivors of round 8 whose neighbours were peeled IN round 8 can
      // sit below degree 3 (round 9's work) or even at 0; their degree
      // in the final induced subgraph is still the well-defined readout
      survivors
        .join(edges.groupBy(col("src")).agg(count(lit(1)).as("core_deg")),
          col("v") === col("src"), "left_outer")
        .select(col("v").as("part_key"),
          coalesce(col("core_deg"), lit(0L)).as("core_deg"),
          lit(converged).as("converged"))
        .orderBy(col("part_key"))
    },
    Some {
      // each peel references s{i-1} TWICE — without MATERIALIZED the
      // DuckDB plan doubles per peel (exponential; r7 verdict item #1)
      val peels = (2 to 8).map { i =>
        s""", s$i AS MATERIALIZED (
        SELECT src AS v FROM adj
        WHERE src IN (SELECT v FROM s${i - 1})
          AND dst IN (SELECT v FROM s${i - 1})
        GROUP BY src HAVING count(*) >= 3
      )"""
      }.mkString
      s"""
      WITH $copurchaseAdjSql, s1 AS MATERIALIZED (
        SELECT src AS v FROM adj GROUP BY src HAVING count(*) >= 3
      )$peels
      SELECT s8.v AS part_key, coalesce(d.deg, 0) AS core_deg,
             ((SELECT count(*) FROM s8) = (SELECT count(*) FROM s7))
               AS converged
      FROM s8 LEFT JOIN (
        SELECT src, count(*) AS deg FROM adj
        WHERE src IN (SELECT v FROM s8) AND dst IN (SELECT v FROM s8)
        GROUP BY src) d ON d.src = s8.v
      ORDER BY part_key"""
    })

  /** q278: per-vertex LOCAL CLUSTERING COEFFICIENT over the co-purchase
    * graph — the "how clique-like is this node's neighbourhood" readout
    * behind community pre-screens and recommender diversity caps
    * (Watts–Strogatz '98 defines it; triangle/wedge ratio). Triangles
    * are enumerated ONCE as ordered triples a<b<c (the q167 discipline:
    * e1(a,b)⋈e2(b,c) wedges semi-joined against the closing edge (a,c)
    * — every triangle appears exactly once, no double counting to
    * divide away), then exploded to per-vertex counts; degree comes
    * from the symmetric adjacency. lcc = 2·tri / (deg·(deg−1)) is a
    * SINGLE IEEE division of exact BIGINTs — bit-identical cross-engine.
    * Scale: the wedge join is the standard distributed triangle plan;
    * ordering a<b<c means each edge's smaller endpoint drives the join,
    * and the closing-edge probe is a semi-join on the (a,c) pair key —
    * all edge-sized shuffles, no vertex ever materializes its full
    * neighbourhood in one task. */
  val q278 = Q(
    "q278_clustering_coeff",
    (s, d) => {
      val e = copurchasePairs(s, d).select(col("a"), col("b"))
        .persistTracked()
      // r9 (the q167/q427 cut): triples a<b<c enumerated from sorted
      // HIGHER-neighbour arrays — for each edge (a, b), the closing
      // vertices are array_intersect(N⁺(a), N⁺(b)) exploded in-operator;
      // identical triple set to the old wedge join + closing semi-join,
      // which materialized every wedge through a shuffle
      val adjHi = e.groupBy(col("a"))
        .agg(expr("sort_array(collect_list(b))").as("nbrs"))
        .persistTracked()
      val tri = adjHi
        .select(col("a").as("ta"), col("nbrs").as("na"),
          explode(col("nbrs")).as("tb"))
        .join(adjHi.select(col("a").as("tb"), col("nbrs").as("nb")),
          Seq("tb"))
        .select(col("ta"), col("tb"),
          explode(array_intersect(col("na"), col("nb"))).as("tc"))
      val triCnt = tri
        .select(explode(array(col("ta"), col("tb"), col("tc"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("tri"))
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      deg.join(triCnt, Seq("v"), "left_outer")
        .filter(col("deg") >= 2L)
        .select(col("v").as("part_key"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"),
          (coalesce(col("tri"), lit(0L)) * 2L).cast(DoubleType)
            ./((col("deg") * (col("deg") - 1L)).cast(DoubleType))
            .as("lcc"))
        .orderBy(col("part_key"))
    },
    Some(s"""
      WITH $copurchaseAdjSql, tri AS (
        SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
        FROM e e1 JOIN e e2 ON e2.a = e1.b
        WHERE EXISTS (SELECT 1 FROM e e3
                      WHERE e3.a = e1.a AND e3.b = e2.b)
      ), tcnt AS (
        SELECT v, count(*) AS tri FROM (
          SELECT ta AS v FROM tri
          UNION ALL SELECT tb FROM tri
          UNION ALL SELECT tc FROM tri)
        GROUP BY v
      ), deg AS (
        SELECT src AS v, count(*) AS deg FROM adj GROUP BY src
      )
      SELECT deg.v AS part_key, deg,
             coalesce(tri, 0) AS tri,
             CAST(coalesce(tri, 0) * 2 AS DOUBLE)
               / CAST(deg * (deg - 1) AS DOUBLE) AS lcc
      FROM deg LEFT JOIN tcnt ON tcnt.v = deg.v
      WHERE deg >= 2
      ORDER BY part_key"""))

  /** q279: LINK PREDICTION by common-neighbour counting — the classic
    * missing-edge scorer (Liben-Nowell & Kleinberg CIKM'03): candidate
    * pairs are open wedges (two parts sharing a co-purchase neighbour
    * but never co-purchased themselves), scored by common-neighbour
    * count and exact-integer Jaccard cn / (deg(a)+deg(b)−cn). The
    * wedge enumeration reuses the symmetric adjacency (centre v joins
    * its neighbour list to itself, u<w normalizes each pair once per
    * centre); existing edges leave via a left-anti join on the ordered
    * pair key; the top-20 is totally ordered (cn DESC, a, b) so LIMIT
    * is deterministic cross-engine. Scale: wedge counts are the
    * centre-degree-squared term every link predictor pays — a hub
    * centre of degree d would emit d² candidate rows, so BOTH engines
    * cap every centre's wedge fan-out at [[hubCap]] neighbours chosen
    * deterministically (row_number by dst ascending — one edge-sized
    * window pass, never d² rows). The recall contract: EXACT for every
    * centre with degree ≤ cap; above the cap, wedges are enumerated
    * over the same truncated neighbour list in both engines, so
    * cross-engine equality holds at ANY scale while the worst-case
    * per-centre cost is cap² instead of d². Everything downstream is
    * pair-keyed equi-joins and one top-k (r7 verdict item #5: the cap
    * is code, pinned in PlanShapeSpec, not a comment). */
  val hubCap = 128

  val q279 = Q(
    "q279_link_prediction",
    (s, d) => {
      val e = copurchasePairs(s, d).select(col("a"), col("b"))
        .persistTracked()
      val adj = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
        .persistTracked()
      // hub cap: keep each centre's first `hubCap` neighbours (dst asc)
      // — r9: the capped neighbour list is built as ONE sorted array
      // per centre and wedges explode from it in-operator (identical
      // pair set to the old row_number window + capped self-join, which
      // paid a full window sort plus two sorted join sides); the
      // neighbour arrays are hubCap-bounded by construction
      val cand = adj.groupBy(col("src"))
        .agg(expr(s"slice(sort_array(collect_list(dst)), 1, $hubCap)")
          .as("ns"))
        .select(explode(expr(
          """flatten(transform(ns, (x, i) ->
               transform(slice(ns, i + 2, size(ns)),
                 y -> struct(x AS a, y AS b))))""")).as("p"))
        .select(col("p.a"), col("p.b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
        .join(e, Seq("a", "b"), "left_anti")
      val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      cand
        .join(deg.select(col("src").as("a"), col("deg").as("deg_a")),
          Seq("a"))
        .join(deg.select(col("src").as("b"), col("deg").as("deg_b")),
          Seq("b"))
        .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
          col("cn").cast(DoubleType)
            ./((col("deg_a") + col("deg_b") - col("cn")).cast(DoubleType))
            .as("jaccard"))
        .orderBy(col("cn").desc, col("a"), col("b"))
        .limit(20)
    },
    Some(s"""
      WITH $copurchaseAdjSql, capped AS (
        SELECT src, dst FROM (
          SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dst)
                   AS nbr_rank
          FROM adj)
        WHERE nbr_rank <= $hubCap
      ), cand AS (
        SELECT x.dst AS a, y.dst AS b, count(*) AS cn
        FROM capped x JOIN capped y
          ON x.src = y.src AND x.dst < y.dst
        WHERE NOT EXISTS (SELECT 1 FROM e
                          WHERE e.a = x.dst AND e.b = y.dst)
        GROUP BY 1, 2
      ), deg AS (
        SELECT src AS v, count(*) AS deg FROM adj GROUP BY src
      )
      SELECT a, b, cn, da.deg AS deg_a, db.deg AS deg_b,
             CAST(cn AS DOUBLE)
               / CAST(da.deg + db.deg - cn AS DOUBLE) AS jaccard
      FROM cand
      JOIN deg da ON da.v = a
      JOIN deg db ON db.v = b
      ORDER BY cn DESC, a, b
      LIMIT 20"""))

  /** q280: AUTOCORRELATION function of the daily-revenue series at lags
    * 1, 2 and 7 — the seasonality readout (is there a weekly cycle?)
    * that schedules capacity and flags calendar leakage in training
    * splits; the ClickHouse/monitoring-engine `corr(x, lagged x)`
    * shape. The series is DENSIFIED first (q124's spine: sequence over
    * the min..max ship-day, absent days are true zeros — skipping gaps
    * would silently misalign every lag), indexed by day number, and
    * quantized to 10⁴-currency-unit integers (cents div 10⁶) so every
    * moment sum is an exact BIGINT with overflow headroom documented:
    * at 50× fixture scale daily quanta ≈ 4·10⁴, so n·Σx² ≈ 10¹⁶ ≪ 2⁶³.
    * Each lag's Pearson correlation is then the q188 discipline —
    * integer moment sums, one IEEE division over identical operands
    * (sqrt is correctly rounded, so bit-identical cross-engine). Scale:
    * one fact scan → day-sized aggregate; the lag self-join is on a
    * day-count-sized frame (thousands of rows at any corpus size) with
    * the 3-row lag list broadcast. */
  val q280 = Q(
    "q280_acf",
    (s, d) => {
      import s.implicits._
      val daily = Tables.load(s, d, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(Det.cents(col("l_extendedprice"))).as("c"))
      val series = daily
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("d0"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        .join(daily, Seq("day"), "left")
        .select(datediff(col("day"), col("d0")).cast(LongType).as("k"),
          expr("coalesce(c, CAST(0 AS BIGINT)) div 1000000").as("x"))
        .persistTracked()
      val lags = Seq(1L, 2L, 7L).toDF("lag")
      val pairs = series.as("s1")
        .crossJoin(broadcast(lags))
        .join(series.as("s2"),
          col("s2.k") === col("s1.k") + col("lag"))
        .select(col("lag"), col("s1.x").as("x"), col("s2.x").as("y"))
      val m = pairs.groupBy(col("lag")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      m.select(col("lag"), col("n"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0L
              && (col("n") * col("syy") - col("sy") * col("sy")) > 0L,
            (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType)
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast(DoubleType))
                * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast(DoubleType))))
            .as("acf"))
        .orderBy(col("lag"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS c
        FROM lineitem GROUP BY 1
      ), bounds AS (
        SELECT min(day) AS d0, max(day) AS d1 FROM daily
      ), spine AS (
        SELECT d0, CAST(unnest(generate_series(
                     CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                     INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
      ), series AS (
        SELECT CAST(sp.day - sp.d0 AS BIGINT) AS k,
               coalesce(c, 0) // 1000000 AS x
        FROM spine sp LEFT JOIN daily ON daily.day = sp.day
      ), lags AS (
        SELECT CAST(unnest([1, 2, 7]) AS BIGINT) AS lag
      ), m AS (
        SELECT lag, count(*) AS n,
               CAST(sum(s1.x) AS BIGINT) AS sx,
               CAST(sum(s2.x) AS BIGINT) AS sy,
               CAST(sum(s1.x * s1.x) AS BIGINT) AS sxx,
               CAST(sum(s2.x * s2.x) AS BIGINT) AS syy,
               CAST(sum(s1.x * s2.x) AS BIGINT) AS sxy
        FROM lags, series s1, series s2
        WHERE s2.k = s1.k + lag
        GROUP BY lag
      )
      SELECT lag, n,
             CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
               THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             END AS acf
      FROM m ORDER BY lag"""))

  /** q281: RANDOMIZED RESPONSE (Warner '65, the local-differential-
    * privacy primitive behind RAPPOR-style telemetry): each order
    * reports whether it is URGENT through a two-coin protocol — an
    * honest coin (heads: report the truth) and a noise coin (tails:
    * report the noise coin's face) — so NO individual row's report is
    * trustworthy, yet the population rate debiases exactly:
    * E[yes] = π/2 + 1/4 ⇒ π̂ = (4·yes − n) / (2n). Both coins are md5
    * nibble classes of the row key (the q54 content-hash coordinate:
    * portable, repartition-stable, and — unlike a seeded RNG — the
    * SAME coins in both engines, so the oracle checks the whole
    * mechanism, not just its expectation). Everything stays exact
    * integers until the three display divisions (identical operands
    * cross-engine). The realized |error| beside the estimate is the
    * utility readout a privacy budget review wants; ε = ln 3 for this
    * p=1/2 design. Scale: one scan, one grouped aggregate — the noise
    * adds zero shuffle. */
  val q281 = Q(
    "q281_randomized_response",
    (s, d) => {
      val h = md5(concat(col("o_orderkey").cast(StringType), lit("rr")))
      val coin1 = expr(
        "instr('0123456789abcdef', substring(h, 1, 1)) <= 8")
      val coin2 = expr(
        "instr('0123456789abcdef', substring(h, 2, 1)) <= 8")
      Tables.load(s, d, "orders")
        .select(year(col("o_orderdate")).as("yr"),
          (col("o_orderpriority") === "1-URGENT").as("t"),
          h.as("h"))
        .withColumn("r",
          when(coin1, col("t")).otherwise(coin2))
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("t"), 1L).otherwise(0L)).as("true_cnt"),
          sum(when(col("r"), 1L).otherwise(0L)).as("reported_cnt"))
        .select(col("yr"), col("n"), col("true_cnt"), col("reported_cnt"),
          (col("true_cnt").cast(DoubleType) / col("n").cast(DoubleType))
            .as("true_rate"),
          ((col("reported_cnt") * 4L - col("n")).cast(DoubleType)
            / (col("n") * 2L).cast(DoubleType)).as("est_rate"),
          abs((col("true_cnt").cast(DoubleType)
              / col("n").cast(DoubleType))
            - ((col("reported_cnt") * 4L - col("n")).cast(DoubleType)
              / (col("n") * 2L).cast(DoubleType))).as("abs_err"))
        .orderBy(col("yr"))
    },
    Some("""
      WITH coined AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
               o_orderpriority = '1-URGENT' AS t,
               md5(CAST(o_orderkey AS VARCHAR) || 'rr') AS h
        FROM orders
      ), reported AS (
        SELECT yr, t,
               CASE WHEN strpos('0123456789abcdef', substr(h, 1, 1)) <= 8
                    THEN t
                    ELSE strpos('0123456789abcdef', substr(h, 2, 1)) <= 8
               END AS r
        FROM coined
      ), agg AS (
        SELECT yr, count(*) AS n,
               CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
                 AS true_cnt,
               CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT)
                 AS reported_cnt
        FROM reported GROUP BY yr
      )
      SELECT yr, n, true_cnt, reported_cnt,
             CAST(true_cnt AS DOUBLE) / CAST(n AS DOUBLE) AS true_rate,
             CAST(reported_cnt * 4 - n AS DOUBLE)
               / CAST(n * 2 AS DOUBLE) AS est_rate,
             abs(CAST(true_cnt AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(reported_cnt * 4 - n AS DOUBLE)
                   / CAST(n * 2 AS DOUBLE)) AS abs_err
      FROM agg ORDER BY yr"""))

  /** q283: COMMUNITY DETECTION by synchronous label propagation
    * (Raghavan et al. '07), made deterministic the way a cross-engine
    * differential test needs: every vertex simultaneously adopts its
    * neighbourhood's MOST FREQUENT label with ties broken by MINIMUM
    * label, for exactly 4 rounds — a pure function of the graph, where
    * textbook asynchronous LPA with random tie-breaks is not
    * reproducible even against itself. Unlike connected components
    * (q68: min-label floods the whole component), frequency voting
    * finds DENSE regions inside one component — the community structure
    * recommender candidate pools and training-data domain balancing
    * actually want. The oracle UNROLLS the 4 synchronous rounds as
    * chained window-over-aggregate CTEs (the q274 discipline). Scale:
    * each round is one edge-sized equi-join + grouped count + per-vertex
    * top-1 window — the Pregel LPA step as plain DataFrames, with
    * per-round localCheckpoint truncating the iterative lineage. */
  val q283 = Q(
    "q283_lpa_communities",
    (s, d) => {
      // src-partitioned edge cache + broadcast node-sized labels (r9,
      // guide §2.4/§3.1): hashpartitioning(src) satisfies both the
      // (src, lbl) vote groupBy and the per-src top-1 window, so with
      // the label side broadcast each round runs with ZERO exchanges
      // over the edge set; at corpus scale the measured-count gate
      // declines and the round falls back to the shuffled shape
      val adj = copurchaseAdj(s, d, partitionKey = Some("src"))
      // node count is constant across rounds — measured-count broadcast
      // gate, observed during the initial checkpoint job (r10)
      val (labels0, nNodes) = graft.operators.Gates.checkpointCounted(
        adj.select(col("src").as("v")).distinct()
          .select(col("v"), col("v").as("lbl")),
        "q283")
      var labels = labels0
      // an arg-min aggregate in place of this window was tried and
      // REVERTED (r10): the round is already exchange-free on the
      // src-partitioned cache, so the window pays only a per-partition
      // sort, and the struct-min hash aggregate measured flat-to-worse
      // at sf0.1 AND the 10× replicas (allocation offsets the sort)
      val w = Window.partitionBy(col("src"))
        .orderBy(col("c").desc, col("lbl").asc)
      for (_ <- 1 to 4) {
        labels = adj
          .join(graft.operators.Gates.bcastIfUnder(
            labels.select(col("v").as("dst"), col("lbl")), nNodes),
            Seq("dst"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("src").as("v"), col("lbl"))
          .checkpointTracked()
      }
      val sz = labels.groupBy(col("lbl")).agg(count(lit(1)).as("comm_size"))
      labels.join(sz, Seq("lbl"))
        .select(col("v").as("part_key"), col("lbl").as("community"),
          col("comm_size"))
        .orderBy(col("part_key"))
    },
    Some {
      val rounds = (1 to 4).map { i =>
        s""", r$i AS (
        SELECT v, lbl FROM (
          SELECT a.src AS v, l.lbl, row_number() OVER (
            PARTITION BY a.src ORDER BY count(*) DESC, l.lbl) AS rn
          FROM adj a JOIN r${i - 1} l ON l.v = a.dst
          GROUP BY a.src, l.lbl) t
        WHERE rn = 1
      )"""
      }.mkString
      s"""
      WITH $copurchaseAdjSql, r0 AS (
        SELECT DISTINCT src AS v, src AS lbl FROM adj
      )$rounds, sz AS (
        SELECT lbl, count(*) AS comm_size FROM r4 GROUP BY lbl
      )
      SELECT r4.v AS part_key, r4.lbl AS community, sz.comm_size
      FROM r4 JOIN sz USING (lbl)
      ORDER BY part_key"""
    })

  /** q277: ANALYZE-style column statistics (the optimizer's food: every
    * cost-based decision in this engine family — join order, broadcast
    * choice, skew handling, q264's metadata-serve, q268's sample
    * scaling — starts from per-column n/nulls/NDV/min/max/quartiles).
    * All four profiled columns are INTEGER-ENCODED first (cents for
    * money, epoch-days for the timestamp) so min/max are exact BIGINTs
    * and the quartile boundaries are percentile_cont over integers —
    * the q04 cross-engine-exact interpolation. One column-pruned scan
    * per column, each a single partial+final aggregate; NDV is exact
    * here (the 100 TB path swaps in hll_md5/kmv_md5 — q61/q215 — at a
    * documented error bar, which is precisely how warehouse ANALYZE
    * implementations choose to cheat). */
  val q277 = Q(
    "q277_analyze_stats",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      def stats(name: String, v: org.apache.spark.sql.Column) =
        li.select(v.cast(LongType).as("v"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col("v")).as("ndv"),
            min(col("v")).as("min_v"),
            max(col("v")).as("max_v"),
            expr("percentile(v, 0.25D)").as("p25"),
            expr("percentile(v, 0.50D)").as("p50"),
            expr("percentile(v, 0.75D)").as("p75"))
          .select(lit(name).as("col_name"), col("*"))
      stats("l_extendedprice_cents", Det.cents(col("l_extendedprice")))
        .unionAll(stats("l_orderkey", col("l_orderkey")))
        .unionAll(stats("l_quantity", col("l_quantity")))
        .unionAll(stats("l_shipdate_days",
          datediff(col("l_shipdate"), lit("1970-01-01"))))
        .orderBy(col("col_name"))
    },
    Some {
      def statsSql(name: String, e: String) =
        s"""SELECT '$name' AS col_name, count(*) AS n_rows,
             CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
             count(DISTINCT v) AS ndv, min(v) AS min_v, max(v) AS max_v,
             quantile_cont(v, 0.25) AS p25, quantile_cont(v, 0.50) AS p50,
             quantile_cont(v, 0.75) AS p75
           FROM (SELECT CAST($e AS BIGINT) AS v FROM lineitem)"""
      Seq(
        statsSql("l_extendedprice_cents", Det.centsSql("l_extendedprice")),
        statsSql("l_orderkey", "l_orderkey"),
        statsSql("l_quantity", "l_quantity"),
        statsSql("l_shipdate_days",
          "CAST(l_shipdate AS DATE) - DATE '1970-01-01'"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    })

  /** q294: CAPPED ROLLUP (top-N + OTHER) — the high-cardinality serving
    * pattern every dashboard backend ships: per nation, name the top-3
    * parts by revenue and fold the tail into one OTHER row, so the
    * result is bounded (4 rows per group) no matter how many distinct
    * parts exist. The subtlety the pattern exists for: OTHER must
    * aggregate the TAIL's revenue exactly, not drop it — totals
    * reconcile with the uncapped rollup. Rank tiebreak is total
    * (revenue DESC, p_name ASC) on an exact-decimal revenue, so both
    * engines elect identical top sets. Scale: one star join with
    * broadcast dims, one partial-aggregated shuffle to (nation, part),
    * a bounded per-nation window over part aggregates (≤ |parts| rows
    * per partition, already reduced), then the capped re-aggregate —
    * output size is O(nations), which is what makes the query
    * SERVABLE at 100 TB. */
  val q294 = Q(
    "q294_capped_rollup",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val perPart = Tables.load(s, d, "lineitem")
        .join(Tables.load(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.load(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, d, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name"), col("p_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("rev"))
      val ranked = perPart.withColumn("rnk",
        row_number().over(Window.partitionBy(col("n_name"))
          .orderBy(desc("rev"), col("p_name"))))
      ranked
        .withColumn("bucket",
          when(col("rnk") <= 3, col("p_name")).otherwise(lit("OTHER")))
        .groupBy(col("n_name"), col("bucket"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("rev")).cast(DoubleType).as("revenue"),
          min(col("rnk")).as("best_rank"))
        .orderBy(col("n_name"), col("best_rank"))
        .select(col("n_name"), col("bucket"), col("n_parts"),
          col("revenue"))
    },
    Some("""
      WITH per_part AS (
        SELECT n_name, p_name,
               sum(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(18,4))) AS rev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
      ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY n_name
                    ORDER BY rev DESC, p_name) AS rnk
        FROM per_part
      )
      SELECT n_name,
             CASE WHEN rnk <= 3 THEN p_name ELSE 'OTHER' END AS bucket,
             count(*) AS n_parts,
             CAST(sum(rev) AS DOUBLE) AS revenue
      FROM ranked
      GROUP BY n_name, CASE WHEN rnk <= 3 THEN p_name ELSE 'OTHER' END
      ORDER BY n_name, min(rnk)"""))

  /** q295: CLUSTERING DEPTH — the layout-health metric (Snowflake's
    * SYSTEM$CLUSTERING_DEPTH; Iceberg/Delta OPTIMIZE decide off the same
    * signal) that says whether zone-map pruning (q257) can work BEFORE
    * you run a query: for each data file, how many files' key ranges
    * overlap it. A range-clustered layout has depth 1 (disjoint spans →
    * every point predicate prunes to one file); a hash/arrival layout
    * has depth ≈ nfiles (every file spans the whole key domain → zone
    * maps prune nothing). Both layouts are DERIVED deterministically
    * from the same table (md5-bucket assignment = the arrival shape,
    * octile range split = the clustered shape — the q80/q272 per-file
    * replay discipline), so the oracle recomputes every file's
    * [min,max] and the full overlap matrix from the base table alone.
    * Overlap counting is an interval self-join on 8-row-per-layout
    * STATS, never on data — which is the point: at 100 TB the metric
    * costs one min/max aggregate per file, and the re-cluster decision
    * it feeds saves the scans q257 measures. */
  val q295 = Q(
    "q295_clustering_depth",
    (s, d) => {
      val keys = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"))
      val bounds = keys.agg(max(col("k")).as("mx")).select(col("mx"))
      val assigned = keys.crossJoin(bounds).select(
        col("k"),
        expr("instr('0123456789abcdef', " +
          "substring(md5(CAST(k AS STRING)), 32, 1)) % 8").as("hash_file"),
        least(expr("(k - 1) * 8 div mx"), lit(7L)).as("range_file"))
      def stats(layout: String, fileCol: String) = assigned
        .groupBy(col(fileCol).cast(LongType).as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("k")).as("kmin"), max(col("k")).as("kmax"))
        .withColumn("layout", lit(layout))
      // self-joined below — persist, or the overlap join re-runs the
      // whole stats lineage per side (the round-1 no-CSE invariant)
      val st = stats("hash", "hash_file")
        .unionByName(stats("range", "range_file")).persistTracked()
      st.as("a")
        .join(st.as("b"), col("a.layout") === col("b.layout") &&
            col("a.kmin") <= col("b.kmax") &&
            col("b.kmin") <= col("a.kmax"))
        .groupBy(col("a.layout").as("layout"),
          col("a.file_id").as("file_id"), col("a.n_rows").as("n_rows"),
          col("a.kmin").as("kmin"), col("a.kmax").as("kmax"))
        .agg(count(lit(1)).as("depth"))
        .orderBy(col("layout"), col("file_id"))
    },
    Some("""
      WITH keys AS (
        SELECT o_orderkey AS k FROM orders
      ), bounds AS (
        SELECT max(k) AS mx FROM keys
      ), assigned AS (
        SELECT k,
               strpos('0123456789abcdef',
                 substr(md5(CAST(k AS VARCHAR)), 32, 1)) % 8 AS hash_file,
               least((k - 1) * 8 // mx, 7) AS range_file
        FROM keys, bounds
      ), st AS (
        SELECT 'hash' AS layout, CAST(hash_file AS BIGINT) AS file_id,
               count(*) AS n_rows, min(k) AS kmin, max(k) AS kmax
        FROM assigned GROUP BY 1, 2
        UNION ALL
        SELECT 'range', CAST(range_file AS BIGINT),
               count(*), min(k), max(k)
        FROM assigned GROUP BY 1, 2
      )
      SELECT a.layout, a.file_id, a.n_rows, a.kmin, a.kmax,
             count(*) AS depth
      FROM st a JOIN st b
        ON a.layout = b.layout
       AND a.kmin <= b.kmax AND b.kmin <= a.kmax
      GROUP BY a.layout, a.file_id, a.n_rows, a.kmin, a.kmax
      ORDER BY a.layout, a.file_id"""))

  /** Hilbert index for an `order`×`order` grid (Hamilton's classic
    * iterative rotate-and-accumulate, as in Wikipedia's d2xy/xy2d
    * reference code) — evaluated ONCE per cell here; the 64-entry
    * mapping is curve DATA shared verbatim by both engines. */
  private[graft] def hilbertD(order: Int, x0: Int, y0: Int): Int = {
    var x = x0; var y = y0; var d = 0; var s = order / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }
  private[graft] def mortonD(x: Int, y: Int): Int =
    (0 until 3).map(b =>
      (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))).sum
  private[graft] val CurveCells: Seq[(Int, Int, String, Int)] =
    for {
      x <- 0 to 7; y <- 0 to 7
      (c, d) <- Seq("hilbert" -> hilbertD(8, x, y), "z" -> mortonD(x, y))
    } yield (x, y, c, d)

  /** q296: SPACE-FILLING-CURVE LOCALITY — the measurement behind the
    * z-order-vs-Hilbert layout decision q243 takes as given: for EVERY
    * 2x2 box query over the (partkey, suppkey) octile grid, how many
    * CONTIGUOUS cell-id runs must a reader open under each curve? Both
    * curves cover a box with the same 4 cells (same bytes), but a run
    * break is a seek — and at 100 TB a "cell" is a file span, so runs,
    * not cells, set the random-I/O bill; Hilbert's recursive U-turns
    * keep neighbours adjacent where Z's diagonal jumps split them
    * (Moon et al., TKDE 2001 — the classic clustering analysis). The
    * 64-cell curve tables are generated once ([[CurveCells]]) and
    * shared as literal data; rows enter through the per-cell lineitem
    * counts, so rows_read doubles as the equal-bytes invariant. Output:
    * per curve, total runs over all 49 boxes, the average, and rows
    * touched — the readout that justifies re-clustering by Hilbert
    * before the rewrite is paid for. */
  val q296 = Q(
    "q296_curve_locality",
    (s, d) => {
      import s.implicits._
      val curves = CurveCells.toDF("cx", "cy", "curve", "cell")
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      val bounds = li.agg(max(col("p")).as("mp"), max(col("sk")).as("ms"))
      val cellRows = li.crossJoin(bounds)
        .select(
          least(expr("(p - 1) * 8 div mp"), lit(7L)).cast(IntegerType)
            .as("cx"),
          least(expr("(sk - 1) * 8 div ms"), lit(7L)).cast(IntegerType)
            .as("cy"))
        .groupBy(col("cx"), col("cy"))
        .agg(count(lit(1)).as("n_rows"))
      val boxes = (for (bx <- 0 to 6; by <- 0 to 6)
        yield (bx, by)).toDF("bx", "by")
      val cover = boxes.join(curves,
        col("cx").between(col("bx"), col("bx") + 1) &&
          col("cy").between(col("by"), col("by") + 1))
        .join(cellRows, Seq("cx", "cy"), "left")
        .na.fill(0L, Seq("n_rows"))
        .persistTracked()
      val adj = cover.as("a")
        .join(cover.as("b"), col("a.curve") === col("b.curve") &&
            col("a.bx") === col("b.bx") && col("a.by") === col("b.by") &&
            col("b.cell") === col("a.cell") + 1)
        .groupBy(col("a.curve").as("curve"))
        .agg(count(lit(1)).as("n_adjacent"))
      cover.groupBy(col("curve"))
        .agg(count(lit(1)).as("n_cells"), sum(col("n_rows")).as("rows_read"))
        .join(adj, Seq("curve"))
        .select(col("curve"),
          (col("n_cells") - col("n_adjacent")).as("total_runs"),
          ((col("n_cells") - col("n_adjacent")).cast(DoubleType) /
            lit(49.0)).as("avg_runs_per_box"),
          col("rows_read"))
        .orderBy(col("curve"))
    },
    Some(s"""
      WITH curves AS (
        SELECT * FROM (VALUES
          ${CurveCells.map { case (x, y, c, d2) => s"($x, $y, '$c', $d2)" }
            .grouped(6).map(_.mkString(", ")).mkString(",\n          ")})
          AS t(cx, cy, curve, cell)
      ), li AS (
        SELECT l_partkey AS p, l_suppkey AS sk FROM lineitem
      ), bounds AS (
        SELECT max(p) AS mp, max(sk) AS ms FROM li
      ), cell_rows AS (
        SELECT least((p - 1) * 8 // mp, 7) AS cx,
               least((sk - 1) * 8 // ms, 7) AS cy, count(*) AS n_rows
        FROM li, bounds GROUP BY 1, 2
      ), boxes AS (
        SELECT bx, by FROM range(0, 7) t1(bx), range(0, 7) t2(by)
      ), cover AS (
        SELECT b.bx, b.by, c.curve, c.cell, coalesce(r.n_rows, 0) AS n_rows
        FROM boxes b
        JOIN curves c ON c.cx BETWEEN b.bx AND b.bx + 1
                     AND c.cy BETWEEN b.by AND b.by + 1
        LEFT JOIN cell_rows r ON r.cx = c.cx AND r.cy = c.cy
      ), adj AS (
        SELECT a.curve, count(*) AS n_adjacent
        FROM cover a JOIN cover b
          ON a.curve = b.curve AND a.bx = b.bx AND a.by = b.by
         AND b.cell = a.cell + 1
        GROUP BY 1
      ), tot AS (
        SELECT curve, count(*) AS n_cells,
               CAST(sum(n_rows) AS BIGINT) AS rows_read
        FROM cover GROUP BY 1
      )
      SELECT t.curve, t.n_cells - a.n_adjacent AS total_runs,
             CAST(t.n_cells - a.n_adjacent AS DOUBLE) / 49.0
               AS avg_runs_per_box,
             t.rows_read
      FROM tot t JOIN adj a ON t.curve = a.curve
      ORDER BY t.curve"""))

  /** q309: FORECAST BACKTEST WITH MASE — the scoring half of time-series
    * work (q195 fits a trend; this GRADES forecasts the way M-competition
    * practice does): per nation, the monthly revenue series is gap-filled
    * onto a dense LINEAR month index (year·12 + month − 1 — yyyymm is
    * non-linear across year boundaries, a classic silent lag bug; zero
    * months must exist or LAG counts observations, not months), then the
    * last 12 months are held out and two forecasts compete: seasonal
    * naive (value 12 months earlier) vs naive (previous month). The
    * readout per nation is the exact integer sum of absolute errors for
    * both and their ratio — MASE (Hyndman & Koehler 2006, "Another look
    * at measures of forecast accuracy"): < 1 means beating the naive
    * walk. All error arithmetic is integer cents; the single division is
    * guarded against constant series (NULL, not a cross-engine inf).
    * Scale: one fact shuffle to nation×month (partial aggs first), the
    * calendar fill is |nations|×|months| metadata, windows run per
    * nation — the 100 TB bill is the first aggregation, full stop. */
  val q309 = Q(
    "q309_mase_backtest",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.load(s, d, "orders")
        .join(
          broadcast(Tables.load(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(
          col("c_nationkey").cast(LongType).as("nat"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast(LongType).as("mi"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("rev_c"))
      val bounds = rev.agg(
        min(col("mi")).as("lo"), max(col("mi")).as("hi"))
      val cal = rev.select(col("nat")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("nat"), explode(expr("sequence(lo, hi)")).as("mi"),
          col("hi"))
      val w = Window.partitionBy(col("nat")).orderBy(col("mi"))
      val filled = cal
        .join(rev, Seq("nat", "mi"), "left")
        .withColumn("rev", coalesce(col("rev_c"), lit(0L)))
        .withColumn("s_fc", lag(col("rev"), 12).over(w))
        .withColumn("n_fc", lag(col("rev"), 1).over(w))
        .filter(col("mi") > col("hi") - 12)
      filled
        .groupBy(col("nat"))
        .agg(
          count(lit(1)).as("n_test"),
          sum(abs(col("rev") - col("s_fc"))).as("sae_seasonal_c"),
          sum(abs(col("rev") - col("n_fc"))).as("sae_naive_c"))
        .withColumn("mase",
          when(col("sae_naive_c") === 0, lit(null).cast(DoubleType))
            .otherwise(col("sae_seasonal_c").cast(DoubleType) /
              col("sae_naive_c").cast(DoubleType)))
        .orderBy(col("nat"))
    },
    Some(s"""
      WITH rev AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS nat,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                 AS BIGINT) AS mi,
               CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS rev_c
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
      ), bounds AS (
        SELECT min(mi) AS lo, max(mi) AS hi FROM rev
      ), cal AS (
        SELECT n.nat, unnest(range(b.lo, b.hi + 1)) AS mi, b.hi
        FROM (SELECT DISTINCT nat FROM rev) n, bounds b
      ), filled AS (
        SELECT c.nat, c.mi, c.hi, coalesce(r.rev_c, 0) AS rev
        FROM cal c LEFT JOIN rev r ON r.nat = c.nat AND r.mi = c.mi
      ), fc AS (
        SELECT nat, mi, hi, rev,
               lag(rev, 12) OVER (PARTITION BY nat ORDER BY mi) AS s_fc,
               lag(rev, 1) OVER (PARTITION BY nat ORDER BY mi) AS n_fc
        FROM filled
      )
      SELECT nat, count(*) AS n_test,
             CAST(sum(abs(rev - s_fc)) AS BIGINT) AS sae_seasonal_c,
             CAST(sum(abs(rev - n_fc)) AS BIGINT) AS sae_naive_c,
             CASE WHEN CAST(sum(abs(rev - n_fc)) AS BIGINT) = 0 THEN NULL
                  ELSE CAST(CAST(sum(abs(rev - s_fc)) AS BIGINT) AS DOUBLE)
                     / CAST(CAST(sum(abs(rev - n_fc)) AS BIGINT) AS DOUBLE)
             END AS mase
      FROM fc
      WHERE mi > hi - 12
      GROUP BY nat
      ORDER BY nat"""))

  /** q321: MANN–WHITNEY U — the nonparametric two-sample test (Mann &
    * Whitney 1947) an A/B readout reaches for when means mislead
    * (q176's t-shape assumes moments; U only assumes order). Exactness
    * trick: tied values take MIDRANKS, which are half-integers — so
    * everything is computed at 2× SCALE: for a tied group of size c
    * with `less` smaller observations, 2·midrank = 2·less + c + 1,
    * an integer. The rank sum, U₂ = 2·R_A − n_A(n_A+1), and the tie
    * identity U₂A + U₂B = 2·n_A·n_B all stay exact BIGINTs; the only
    * division produces the common-language effect size
    * U_A/(n_A·n_B) — directly interpretable as P(A > B) + ½P(tie).
    * Groups = md5 hash halves of the order key (content-split, the q54
    * discipline), grain = order year. Scale: one aggregation to
    * distinct values, one window cumsum per year — never a pairwise
    * comparison, which is the point of the rank formulation. */
  val q321 = Q(
    "q321_mann_whitney",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val vals = Tables.load(s, d, "orders")
        .select(
          year(col("o_orderdate")).cast(LongType).as("yr"),
          Det.cents(col("o_totalprice")).as("v"),
          expr(s"CASE WHEN ${Det.hashSampleExpr("o_orderkey")
            .replace("<= 2", "<= 8")} THEN 1 ELSE 0 END").as("in_a"))
      val grouped = vals
        .groupBy(col("yr"), col("v"))
        .agg(count(lit(1)).as("c"), sum(col("in_a")).as("ca"))
      val w = Window.partitionBy(col("yr")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      grouped
        .withColumn("less", coalesce(sum(col("c")).over(w), lit(0L)))
        .groupBy(col("yr"))
        .agg(
          sum(col("ca")).as("n_a"),
          sum(col("c") - col("ca")).as("n_b"),
          sum(col("ca") * (lit(2L) * col("less") + col("c") + 1))
            .as("r2_a"))
        .withColumn("u2_a",
          col("r2_a") - col("n_a") * (col("n_a") + 1))
        .withColumn("cles",
          col("u2_a").cast(DoubleType) /
            (lit(2L) * col("n_a") * col("n_b")).cast(DoubleType))
        .select(col("yr"), col("n_a"), col("n_b"), col("u2_a"),
          col("cles"))
        .orderBy(col("yr"))
    },
    Some(s"""
      WITH vals AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               ${Det.centsSql("o_totalprice")} AS v,
               CASE WHEN ${Det.hashSampleSql("o_orderkey")
                 .replace("<= 2", "<= 8")} THEN 1 ELSE 0 END AS in_a
        FROM orders
      ), grouped AS (
        SELECT yr, v, count(*) AS c, CAST(sum(in_a) AS BIGINT) AS ca
        FROM vals GROUP BY 1, 2
      ), ranked AS (
        SELECT yr, v, c, ca,
               coalesce(sum(c) OVER (PARTITION BY yr ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS less
        FROM grouped
      ), stats AS (
        SELECT yr, CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(c - ca) AS BIGINT) AS n_b,
               CAST(sum(ca * (2 * less + c + 1)) AS BIGINT) AS r2_a
        FROM ranked GROUP BY yr
      )
      SELECT yr, n_a, n_b,
             r2_a - n_a * (n_a + 1) AS u2_a,
             CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
               / CAST(2 * n_a * n_b AS DOUBLE) AS cles
      FROM stats
      ORDER BY yr"""))

  /** q322: SPEARMAN RANK CORRELATION — the monotone-association readout
    * (Spearman 1904) that survives outliers and nonlinearity where q48's
    * Pearson does not: Pearson applied to MIDRANKS. Ranks are exact at
    * 2× scale without a tie join: with r = rank() (min-rank of the tie
    * group) and c = the group's size, 2·midrank = 2r + c − 1 — two
    * window functions, no self-join. The correlation is then computed
    * from five integer sums per year; the n·Σ products exceed int64 at
    * warehouse scale, so both engines carry them in exact wide decimals
    * (DuckDB HUGEINT, Spark DECIMAL(38,0) — the q292 discipline), take
    * the EXACT difference, and only then cast to DOUBLE: both engines
    * round the same integer to the same double, and the final
    * sqrt/division is IEEE on identical operands. The fixture's
    * quantity and price columns are INDEPENDENT (measured ρ ≈ 0.01),
    * which would demo nothing — so y is dosed as a monotone transform
    * of quantity plus order-keyed noise (3x + (orderkey·7919) mod 10⁴),
    * giving a strong-but-not-perfect association AND heavy ties in x
    * (50 distinct quantities), exactly what midranks exist for. Scale:
    * two rank windows + one aggregation; never a pairwise product. */
  val q322 = Q(
    "q322_spearman",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.load(s, d, "lineitem")
        .select(
          year(col("l_shipdate")).cast(LongType).as("yr"),
          Det.cents(col("l_quantity")).as("x"),
          (Det.cents(col("l_quantity")) * 3 +
            expr("(l_orderkey * 7919) % 10000")).as("y"))
      def mid2(v: String): org.apache.spark.sql.Column = {
        val wr = Window.partitionBy(col("yr")).orderBy(col(v))
        val wc = Window.partitionBy(col("yr"), col(v))
        (rank().over(wr).cast(LongType) * 2 +
          count(lit(1)).over(wc) - 1).as(s"r$v")
      }
      base
        .select(col("yr"), mid2("x"), mid2("y"))
        .groupBy(col("yr"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
          sum(expr("CAST(rx AS DECIMAL(38,0)) * ry")).as("sxy"),
          sum(expr("CAST(rx AS DECIMAL(38,0)) * rx")).as("sxx"),
          sum(expr("CAST(ry AS DECIMAL(38,0)) * ry")).as("syy"))
        .select(
          col("yr"), col("n"),
          (expr("CAST(CAST(n AS DECIMAL(38,0)) * sxy " +
            "- CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)") /
            (sqrt(expr("CAST(CAST(n AS DECIMAL(38,0)) * sxx " +
              "- CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)")) *
              sqrt(expr("CAST(CAST(n AS DECIMAL(38,0)) * syy " +
                "- CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)"))))
            .as("rho"))
        .orderBy(col("yr"))
    },
    Some(s"""
      WITH base AS (
        SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
               ${Det.centsSql("l_quantity")} AS x,
               ${Det.centsSql("l_quantity")} * 3
                 + (l_orderkey * 7919) % 10000 AS y
        FROM lineitem
      ), ranked AS (
        SELECT yr,
               CAST(rank() OVER (PARTITION BY yr ORDER BY x) AS BIGINT) * 2
                 + count(*) OVER (PARTITION BY yr, x) - 1 AS rx,
               CAST(rank() OVER (PARTITION BY yr ORDER BY y) AS BIGINT) * 2
                 + count(*) OVER (PARTITION BY yr, y) - 1 AS ry
        FROM base
      ), sums AS (
        SELECT yr, count(*) AS n,
               CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
               sum(CAST(rx AS HUGEINT) * ry) AS sxy,
               sum(CAST(rx AS HUGEINT) * rx) AS sxx,
               sum(CAST(ry AS HUGEINT) * ry) AS syy
        FROM ranked GROUP BY yr
      )
      SELECT yr, n,
             ${Det.hugeDoubleSql(
               "CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy")}
               / (sqrt(${Det.hugeDoubleSql(
                    "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx")})
                  * sqrt(${Det.hugeDoubleSql(
                      "CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy")}))
               AS rho
      FROM sums
      ORDER BY yr"""))

  /** q333: GINI COEFFICIENT + CONCENTRATION SHARES of customer revenue —
    * the inequality readout (Gini 1912; the q146 ABC analysis's exact
    * scalar form) ops teams watch for revenue concentration risk and
    * data teams reuse verbatim for token/source concentration in a
    * corpus. Exact discipline: revenue is integer cents; the ascending
    * rank and running revenue both come from GlobalOrder's
    * range-partitioned cumsums (rank = cumsum of 1 — never a
    * corpus-sized single-task window); Gini uses the cumulative-sum
    * identity Σᵢ i·xᵢ = (n+1)·T − ΣC (C = running revenue), so
    * G = ((n+1)·T − 2·ΣC) / (n·T) needs only ΣC — accumulated in
    * DECIMAL(38,0)/HUGEINT (ΣC ≤ n·T ≈ 10²⁵ at extreme scale, far past
    * BIGINT) — and ONE double division. The bottom-50% and top-10%
    * revenue shares read off the same ranked rollup with exact integer
    * rank thresholds. */
  val q333 = Q(
    "q333_gini_concentration",
    (s, d) => {
      val rev = Tables.load(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("rev_c"))
      val ranked = graft.operators.GlobalOrder.withOrderedCumsums(
        rev, Seq(col("rev_c"), col("o_custkey")),
        Seq(lit(1L) -> "rnk", col("rev_c") -> "cum_c"))
      val tot = rev.agg(
        count(lit(1)).as("n"),
        sum(col("rev_c")).as("t_c"))
      ranked.crossJoin(broadcast(tot))
        .groupBy(col("n"), col("t_c"))
        .agg(
          sum(col("cum_c").cast(DecimalType(38, 0))).as("sum_cum"),
          sum(when(col("rnk") <= expr("n div 2"), col("rev_c"))
            .otherwise(0L)).as("bottom_half_c"),
          sum(when(col("rnk") > col("n") - expr("n div 10"), col("rev_c"))
            .otherwise(0L)).as("top_decile_c"))
        .select(
          col("n"), col("t_c"),
          (((col("n") + 1).cast(DecimalType(38, 0)) *
            col("t_c").cast(DecimalType(38, 0)) -
            lit(2).cast(DecimalType(38, 0)) * col("sum_cum"))
            .cast(DoubleType) /
            (col("n").cast(DecimalType(38, 0)) *
              col("t_c").cast(DecimalType(38, 0))).cast(DoubleType))
            .as("gini"),
          (col("bottom_half_c").cast(DoubleType) /
            col("t_c").cast(DoubleType)).as("bottom50_share"),
          (col("top_decile_c").cast(DoubleType) /
            col("t_c").cast(DoubleType)).as("top10_share"))
    },
    Some(s"""
      WITH rev AS (
        SELECT o_custkey,
               CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT)
                 AS rev_c
        FROM orders GROUP BY o_custkey
      ), ranked AS (
        SELECT rev_c,
               CAST(row_number() OVER w AS BIGINT) AS rnk,
               CAST(sum(rev_c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS cum_c
        FROM rev
        WINDOW w AS (ORDER BY rev_c, o_custkey)
      ), tot AS (
        SELECT count(*) AS n, CAST(sum(rev_c) AS BIGINT) AS t_c FROM rev
      )
      SELECT n, t_c,
             CAST((n + 1) * t_c - 2 * sum(cum_c) AS DOUBLE)
               / CAST(n * t_c AS DOUBLE) AS gini,
             CAST(sum(CASE WHEN rnk <= n // 2 THEN rev_c ELSE 0 END)
               AS DOUBLE) / CAST(t_c AS DOUBLE) AS bottom50_share,
             CAST(sum(CASE WHEN rnk > n - n // 10 THEN rev_c ELSE 0 END)
               AS DOUBLE) / CAST(t_c AS DOUBLE) AS top10_share
      FROM ranked, tot
      GROUP BY n, t_c"""))

  /** q337: THEIL–SEN ROBUST TREND — the median-of-pairwise-slopes
    * estimator (Theil 1950; Sen 1968) for the monthly-revenue series:
    * immune to the outlier months that wreck least squares (up to 29%
    * contamination), which is why monitoring pipelines fit it instead
    * of OLS. Points are (integer month index, exact integer cents);
    * every pairwise slope is ONE division of exact integers, so the
    * slope multiset is bit-identical cross-engine and the median is
    * pure selection (lower median, ties broken by the pair key).
    * Intercept = lower median of (y_i − slope·x_i) the same way.
    * Scale: the pair join is MONTHS², a stats-sized self-join (the
    * q295 discipline) — the corpus-sized work is one month rollup. */
  val q337 = Q(
    "q337_theil_sen",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.load(s, d, "lineitem")
        .groupBy((year(col("l_shipdate")) * 12 +
          month(col("l_shipdate"))).cast(LongType).as("mx"))
        .agg(sum(Det.cents(col("l_extendedprice"))).as("rev_c"))
        .persistTracked()
      val slopes = monthly.select(col("mx").as("xi"), col("rev_c").as("yi"))
        .join(monthly.select(col("mx").as("xj"), col("rev_c").as("yj")),
          col("xi") < col("xj"))
        .select(col("xi"), col("xj"),
          ((col("yj") - col("yi")).cast(DoubleType) /
            (col("xj") - col("xi")).cast(DoubleType)).as("slope"))
      val nPairs = slopes.agg(count(lit(1)).as("n_pairs"))
      val slope = slopes.crossJoin(broadcast(nPairs))
        .withColumn("r", row_number().over(
          Window.orderBy(col("slope"), col("xi"), col("xj"))))
        .filter(col("r") === expr("(n_pairs + 1) div 2"))
        .select(col("n_pairs"), col("slope"))
      val nPts = monthly.agg(count(lit(1)).as("n_points"))
      monthly.crossJoin(broadcast(slope))
        .withColumn("res",
          col("rev_c").cast(DoubleType) -
            col("slope") * col("mx").cast(DoubleType))
        .crossJoin(broadcast(nPts))
        .withColumn("r", row_number().over(
          Window.orderBy(col("res"), col("mx"))))
        .filter(col("r") === expr("(n_points + 1) div 2"))
        .select(col("n_points"), col("n_pairs"), col("slope"),
          col("res").as("intercept"))
    },
    Some(s"""
      WITH monthly AS MATERIALIZED (
        SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
                 AS mx,
               CAST(sum(${Det.centsSql("l_extendedprice")}) AS BIGINT)
                 AS rev_c
        FROM lineitem GROUP BY 1
      ), slopes AS (
        SELECT a.mx AS xi, b.mx AS xj,
               CAST(b.rev_c - a.rev_c AS DOUBLE)
                 / CAST(b.mx - a.mx AS DOUBLE) AS slope
        FROM monthly a JOIN monthly b ON a.mx < b.mx
      ), np AS (
        SELECT count(*) AS n_pairs FROM slopes
      ), med AS (
        SELECT n_pairs, slope FROM (
          SELECT slope, n_pairs,
                 row_number() OVER (ORDER BY slope, xi, xj) AS r
          FROM slopes, np)
        WHERE r = (n_pairs + 1) // 2
      ), resid AS (
        SELECT m.mx, n_pairs, slope,
               CAST(m.rev_c AS DOUBLE) - slope * CAST(m.mx AS DOUBLE)
                 AS res
        FROM monthly m, med
      ), npts AS (
        SELECT count(*) AS n_points FROM monthly
      )
      SELECT n_points, n_pairs, slope, res AS intercept FROM (
        SELECT n_points, n_pairs, slope, res,
               row_number() OVER (ORDER BY res, mx) AS r
        FROM resid, npts)
      WHERE r = (n_points + 1) // 2"""))

  /** q348: PINBALL (QUANTILE) LOSS BACKTEST — the scoring rule for
    * QUANTILE forecasts (Koenker & Bassett 1978; the M5-Uncertainty
    * metric), completing q309's point-forecast MASE: a forecast meant
    * to be the τ-quantile is graded by L_τ = τ(y−ŷ)⁺ + (1−τ)(ŷ−y)⁺,
    * which is minimized in expectation exactly at the true quantile.
    * Same gap-filled per-nation monthly series as q309 (absent months
    * are true zeros), last-12-months holdout, seasonal-naive (lag 12)
    * vs naive (lag 1) forecasts, τ ∈ {10, 50, 90}%. EXACT: with τ in
    * integer percent and values in cents, 100·L_τ is an integer; sums
    * are BIGINT and each reported mean is ONE division. Scale: one
    * rollup + per-nation lag windows (the q309 bill) ×3 τ rows. */
  val q348 = Q(
    "q348_pinball_loss",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.load(s, d, "orders")
        .groupBy(
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast(LongType).as("mi"),
          col("o_custkey").mod(8).cast(LongType).as("grp"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("rev_c"))
      val bounds = rev.agg(min(col("mi")).as("lo"), max(col("mi")).as("hi"))
      val cal = rev.select(col("grp")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("grp"), explode(expr("sequence(lo, hi)")).as("mi"),
          col("hi"))
      val w = Window.partitionBy(col("grp")).orderBy(col("mi"))
      val filled = cal
        .join(rev, Seq("grp", "mi"), "left")
        .withColumn("y", coalesce(col("rev_c"), lit(0L)))
        .withColumn("s_fc", lag(col("y"), 12).over(w))
        .withColumn("n_fc", lag(col("y"), 1).over(w))
        .filter(col("mi") > col("hi") - 12 && col("s_fc").isNotNull &&
          col("n_fc").isNotNull)
      filled
        .withColumn("tau", explode(expr("array(10, 50, 90)")))
        .groupBy(col("tau").cast(LongType).as("tau"))
        .agg(
          count(lit(1)).as("n_points"),
          (sum(when(col("y") >= col("s_fc"),
            col("tau") * (col("y") - col("s_fc")))
            .otherwise((lit(100L) - col("tau")) *
              (col("s_fc") - col("y")))).cast(DoubleType) /
            (count(lit(1)) * lit(100L)).cast(DoubleType))
            .as("pinball_seasonal_c"),
          (sum(when(col("y") >= col("n_fc"),
            col("tau") * (col("y") - col("n_fc")))
            .otherwise((lit(100L) - col("tau")) *
              (col("n_fc") - col("y")))).cast(DoubleType) /
            (count(lit(1)) * lit(100L)).cast(DoubleType))
            .as("pinball_naive_c"))
        .orderBy(col("tau"))
    },
    Some(s"""
      WITH rev AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                 AS BIGINT) AS mi,
               o_custkey % 8 AS grp,
               CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT)
                 AS rev_c
        FROM orders GROUP BY 1, 2
      ), bounds AS (
        SELECT min(mi) AS lo, max(mi) AS hi FROM rev
      ), cal AS (
        SELECT g.grp, unnest(range(lo, hi + 1)) AS mi, hi
        FROM (SELECT DISTINCT grp FROM rev) g, bounds
      ), filled AS (
        SELECT grp, mi, hi, coalesce(rev_c, 0) AS y,
               lag(coalesce(rev_c, 0), 12)
                 OVER (PARTITION BY grp ORDER BY mi) AS s_fc,
               lag(coalesce(rev_c, 0), 1)
                 OVER (PARTITION BY grp ORDER BY mi) AS n_fc
        FROM cal LEFT JOIN rev USING (grp, mi)
      ), holdout AS (
        SELECT * FROM filled
        WHERE mi > hi - 12 AND s_fc IS NOT NULL AND n_fc IS NOT NULL
      )
      SELECT CAST(tau AS BIGINT) AS tau, count(*) AS n_points,
             CAST(sum(CASE WHEN y >= s_fc THEN tau * (y - s_fc)
                           ELSE (100 - tau) * (s_fc - y) END) AS DOUBLE)
               / CAST(count(*) * 100 AS DOUBLE) AS pinball_seasonal_c,
             CAST(sum(CASE WHEN y >= n_fc THEN tau * (y - n_fc)
                           ELSE (100 - tau) * (n_fc - y) END) AS DOUBLE)
               / CAST(count(*) * 100 AS DOUBLE) AS pinball_naive_c
      FROM holdout, (SELECT unnest([10, 50, 90]) AS tau) ts
      GROUP BY tau
      ORDER BY tau"""))

  /** q351: CLASSICAL SEASONAL DECOMPOSITION (additive; Macaulay 1931 /
    * the `statsmodels seasonal_decompose` shape) of the gap-filled
    * monthly revenue series: trend = centered 12-term moving average
    * (endpoints half-weighted — the even-period textbook form),
    * seasonal = per-calendar-month mean of the detrended series
    * re-centered to sum to zero, remainder = what's left. The whole
    * decomposition is EXACT-INTEGER until the final per-row divisions:
    * 24·trend = y[t−6] + 2Σ_{t−5..t+5} y + y[t+6] is an integer (cents),
    * 24·detrended = 24y − trend24 is an integer, the seasonal means
    * divide integer sums ONCE, and the zero-centering correction is the
    * same fixed-order arithmetic in both engines. Rows without a full
    * ±6-month window are excluded (the standard MA edge). Scale: one
    * month rollup; every window runs over the |months|-row aggregate. */
  val q351 = Q(
    "q351_seasonal_decompose",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.load(s, d, "lineitem")
        .groupBy((year(col("l_shipdate")) * 12 + month(col("l_shipdate"))
          - 1).cast(LongType).as("mi"))
        .agg(sum(Det.cents(col("l_extendedprice"))).as("y"))
      val bounds = rev.agg(min(col("mi")).as("lo"), max(col("mi")).as("hi"))
      val filled = bounds
        .select(explode(expr("sequence(lo, hi)")).as("mi"))
        .join(rev, Seq("mi"), "left_outer")
        .withColumn("y", coalesce(col("y"), lit(0L)))
      val w = Window.orderBy(col("mi"))
      val trended = filled
        .withColumn("t24",
          lag(col("y"), 6).over(w) + lead(col("y"), 6).over(w) +
            lit(2L) * sum(col("y")).over(
              w.rowsBetween(-5, 5)))
        .filter(col("t24").isNotNull)
        .withColumn("d24", lit(24L) * col("y") - col("t24"))
        .withColumn("moy", col("mi") % 12)
      // per-calendar-month mean of 24·detrended, exact integer sums
      val seas = trended.groupBy(col("moy"))
        .agg(sum(col("d24")).as("sd24"), count(lit(1)).as("nm"))
        .withColumn("s_raw",
          col("sd24").cast(DoubleType) /
            (lit(24L) * col("nm")).cast(DoubleType))
      // re-center so the 12 seasonal terms sum to zero (fixed-order
      // fold over the 12 calendar months)
      val corr = seas.agg(
        (expr("aggregate(transform(array_sort(" +
          "collect_list(struct(moy, s_raw))), p -> p.s_raw), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x)") / lit(12.0))
          .as("s_mean"))
      val seasonal = seas.crossJoin(broadcast(corr))
        .select(col("moy"), (col("s_raw") - col("s_mean")).as("seasonal"))
      trended.join(seasonal, Seq("moy"))
        .select(col("mi"), col("y"),
          (col("t24").cast(DoubleType) / lit(24.0)).as("trend"),
          col("seasonal"),
          (col("y").cast(DoubleType) -
            col("t24").cast(DoubleType) / lit(24.0) - col("seasonal"))
            .as("remainder"))
        .orderBy(col("mi"))
    },
    Some(s"""
      WITH rev AS (
        SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
                 AS BIGINT) AS mi,
               CAST(sum(${Det.centsSql("l_extendedprice")}) AS BIGINT)
                 AS y
        FROM lineitem GROUP BY 1
      ), bounds AS (
        SELECT min(mi) AS lo, max(mi) AS hi FROM rev
      ), filled AS (
        SELECT g.mi, coalesce(r.y, 0) AS y
        FROM (SELECT unnest(range(lo, hi + 1)) AS mi FROM bounds) g
        LEFT JOIN rev r ON r.mi = g.mi
      ), trended AS (
        SELECT mi, y, t24, CAST(24 * y - t24 AS BIGINT) AS d24,
               mi % 12 AS moy
        FROM (
          SELECT mi, y,
                 CAST(lag(y, 6) OVER w + lead(y, 6) OVER w
                   + 2 * sum(y) OVER (w ROWS BETWEEN 5 PRECEDING
                                      AND 5 FOLLOWING) AS BIGINT) AS t24
          FROM filled
          WINDOW w AS (ORDER BY mi))
        WHERE t24 IS NOT NULL
      ), seas AS (
        SELECT moy,
               CAST(sum(d24) AS DOUBLE)
                 / CAST(24 * count(*) AS DOUBLE) AS s_raw
        FROM trended GROUP BY moy
      ), corr AS (
        SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(s_raw ORDER BY moy)), (acc, x) -> acc + x)
               / CAST(12 AS DOUBLE) AS s_mean
        FROM seas
      ), seasonal AS (
        SELECT moy, s_raw - s_mean AS seasonal FROM seas, corr
      )
      SELECT t.mi, t.y,
             CAST(t.t24 AS DOUBLE) / CAST(24 AS DOUBLE) AS trend,
             s.seasonal,
             CAST(t.y AS DOUBLE)
               - CAST(t.t24 AS DOUBLE) / CAST(24 AS DOUBLE)
               - s.seasonal AS remainder
      FROM trended t JOIN seasonal s ON s.moy = t.moy
      ORDER BY t.mi"""))

  /** q361: CROSS-CORRELATION LEAD/LAG SCAN (the CCF beside q280's ACF —
    * Box & Jenkins §11's first tool for "does metric X LEAD metric Y?",
    * the marketing-spend-vs-revenue / ingest-rate-vs-error-rate read):
    * Pearson r between urgent-order volume and total monthly revenue at
    * every alignment ℓ ∈ −6..+6 months (r(ℓ) pairs x_t with y_{t+ℓ};
    * negative ℓ = revenue leads). EXACT per q280's discipline: both
    * series are integers (a count; cents div 10⁵ keeps every moment
    * product inside BIGINT), all five moments exact, r one division of
    * identical operands with the degenerate-variance guard. Scale: one
    * orders rollup to |months| rows, a broadcast 13-lag fan-out, and a
    * months×lags self-join — everything after the first aggregate is
    * metadata-sized whatever the corpus. */
  val q361 = Q(
    "q361_cross_correlation",
    (s, d) => {
      import s.implicits._
      val monthly = Tables.load(s, d, "orders")
        .groupBy((year(col("o_orderdate")) * 12 +
          month(col("o_orderdate"))).as("mi"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT", 1L)
            .otherwise(0L)).as("x"),
          expr(s"sum(${Det.centsSql("o_totalprice")}) div 100000")
            .as("y"))
        .persistTracked()
      val lags = (-6L to 6L).toDF("lag")
      val pairs = monthly.as("s1")
        .crossJoin(broadcast(lags))
        .join(monthly.as("s2"),
          col("s2.mi") === col("s1.mi") + col("lag"))
        .select(col("lag"), col("s1.x").as("x"), col("s2.y").as("y"))
      pairs.groupBy(col("lag")).agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("lag"), col("n"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0L
              && (col("n") * col("syy") - col("sy") * col("sy")) > 0L,
            (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType)
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast(DoubleType))
                * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast(DoubleType))))
            .as("ccf"))
        .orderBy(col("lag"))
    },
    Some(s"""
      WITH monthly AS (
        SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mi,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(${Det.centsSql("o_totalprice")}) // 100000
                 AS BIGINT) AS y
        FROM orders GROUP BY 1
      ), lags AS (
        SELECT CAST(l AS BIGINT) AS lag
        FROM range(-6, 7) r(l)
      ), m AS (
        SELECT lag, count(*) AS n,
               CAST(sum(s1.x) AS BIGINT) AS sx,
               CAST(sum(s2.y) AS BIGINT) AS sy,
               CAST(sum(s1.x * s1.x) AS BIGINT) AS sxx,
               CAST(sum(s2.y * s2.y) AS BIGINT) AS syy,
               CAST(sum(s1.x * s2.y) AS BIGINT) AS sxy
        FROM monthly s1 CROSS JOIN lags
        JOIN monthly s2 ON s2.mi = s1.mi + lag
        GROUP BY lag
      )
      SELECT lag, n,
             CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  THEN CAST(n * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             END AS ccf
      FROM m
      ORDER BY lag"""))

  /** q369: TRUNCATED HARMONIC CENTRALITY (Boldi & Vigna 2014, "Axioms
    * for Centrality" — harmonic is the axiomatically-sound closeness
    * variant, and the depth-truncated form is exactly what HyperBall
    * computes at scale) — the distance-based centrality beside q204's
    * eigenvector-family PageRank and q278's local clustering: from the
    * 4 smallest part ids, H₄(s) = Σ_{0<d(s,v)≤4} 1/d(s,v) over the
    * co-purchase graph. The per-depth counts d1..d4 are EXACT integers
    * from 4 rounds of frontier expansion (multi-source: every frontier
    * row carries its source, so one pass serves all seeds); the
    * harmonic sum is the FIXED four-term expression d1/1 + d2/2 + d3/3
    * + d4/4 — literal divisors, left-associated identically in both
    * engines, no fold machinery needed. Scale: frontiers are edge-sized
    * joins with localCheckpoint truncation (the q192/q204 discipline);
    * the seed set is bounded by design — corpus-wide centrality would
    * swap the exact BFS for HyperBall sketches (q61's HLL per depth). */
  val q369 = Q(
    "q369_harmonic_centrality",
    (s, d) => {
      import s.implicits._
      val adj = copurchaseAdj(s, d)
      val seeds = adj.select(col("src")).distinct()
        .orderBy(col("src")).limit(4)
        .as[Long].collect() // bounded seed set by design
      var levels = seeds.toSeq.map(v => (v, v, 0L))
        .toDF("source", "v", "dist").checkpointTracked()
      var frontier = levels
      // measured-count broadcast gate (r10 — the q192 rationale)
      var frontierCnt = seeds.length.toLong
      var levelsCnt = frontierCnt
      import graft.operators.Gates.bcastIfUnder
      for (l <- 1 to 4) {
        // frontier count observed during the checkpoint job (r10, §2.4)
        val (next, cnt) = graft.operators.Gates.checkpointCounted(
          bcastIfUnder(frontier, frontierCnt)
            .join(adj, col("v") === col("src"))
            .select(col("source"), col("dst").as("v")).distinct()
            .join(bcastIfUnder(
              levels.select(col("source"), col("v")), levelsCnt),
              Seq("source", "v"), "left_anti")
            .withColumn("dist", lit(l.toLong)),
          "q369")
        frontierCnt = cnt
        levelsCnt += frontierCnt
        levels = levels.unionAll(next).checkpointTracked()
        frontier = next
      }
      levels.filter(col("dist") >= 1)
        .groupBy(col("source"))
        .agg(
          sum(when(col("dist") === 1, 1L).otherwise(0L)).as("d1"),
          sum(when(col("dist") === 2, 1L).otherwise(0L)).as("d2"),
          sum(when(col("dist") === 3, 1L).otherwise(0L)).as("d3"),
          sum(when(col("dist") === 4, 1L).otherwise(0L)).as("d4"))
        .select(col("source"), col("d1"), col("d2"), col("d3"),
          col("d4"),
          (col("d1") + col("d2") + col("d3") + col("d4")).as("reached"),
          (col("d1").cast(DoubleType) / lit(1.0) +
            col("d2").cast(DoubleType) / lit(2.0) +
            col("d3").cast(DoubleType) / lit(3.0) +
            col("d4").cast(DoubleType) / lit(4.0)).as("h4"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH RECURSIVE $copurchaseAdjSql, seeds AS (
        SELECT src AS s FROM (
          SELECT DISTINCT src FROM adj ORDER BY src LIMIT 4) x
      ), walk AS (
        SELECT s AS source, s AS v, 0 AS lvl FROM seeds
        UNION
        SELECT walk.source, adj.dst AS v, walk.lvl + 1 AS lvl
        FROM walk JOIN adj ON adj.src = walk.v
        WHERE walk.lvl < 4
      ), lv AS (
        SELECT source, v, min(lvl) AS dist
        FROM walk GROUP BY source, v
      ), counts AS (
        SELECT source,
               CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS d1,
               CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS d2,
               CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS d3,
               CAST(sum(CASE WHEN dist = 4 THEN 1 ELSE 0 END) AS BIGINT)
                 AS d4
        FROM lv WHERE dist >= 1 GROUP BY source
      )
      SELECT source, d1, d2, d3, d4,
             d1 + d2 + d3 + d4 AS reached,
             CAST(d1 AS DOUBLE) / 1.0 + CAST(d2 AS DOUBLE) / 2.0
               + CAST(d3 AS DOUBLE) / 3.0 + CAST(d4 AS DOUBLE) / 4.0
               AS h4
      FROM counts
      ORDER BY source"""))

  private val VoptBins = 6

  /** q370: V-OPTIMAL HISTOGRAM CONSTRUCTION (Jagadish et al. VLDB'98,
    * "Optimal Histograms with Quality Guarantees"; the segmented
    * least-squares problem of Bellman 1961) — the histogram DESIGN
    * operator beside q55's fixed-width readout: choose 6 bin boundaries
    * over the order-value distribution minimizing total within-bin
    * variance (SSE), the same objective an optimizer's statistics
    * collector or a monitoring dashboard's adaptive bucketer solves.
    * The corpus collapses to ≤ 25 pre-bucket moment rows (n, Σx, Σx²
    * exact in BIGINT/DECIMAL(38)); every 5-split combination over those
    * buckets is ENUMERATED (C(24,5) ≈ 42.5k metadata rows — exhaustive,
    * so the optimum is certified, not a heuristic), each candidate's
    * cost is the sum of six segment SSEs — each segment SSE
    * (n·Σx² − (Σx)²)/n formed from INT64-EXACT operands cast to double
    * individually (values are quantized to 10-dollar units so every
    * moment fits BIGINT: int64→double is correctly rounded on both
    * engines, whereas DuckDB's int128→double cast DOUBLE-ROUNDS above
    * 2⁶³ and diverges from Spark's Decimal cast by an ulp — measured
    * on this exact query), the six added in FIXED left-assoc order —
    * and the argmin carries a full (total, s1..s5) tiebreak. Scale:
    * one scan to the bucket
    * rollup; everything after is independent of corpus size (the
    * classic sketch-then-solve shape; finer pre-buckets only grow the
    * metadata side). */
  val q370 = Q(
    "q370_voptimal_histogram",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val buckets = Tables.load(s, d, "orders")
        .select(expr(s"${Det.centsSql("o_totalprice")} div 1000").as("x"))
        .groupBy(expr("x div 2000").as("b"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("ssq"))
      val w = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prefix = buckets
        .withColumn("idx", row_number().over(Window.orderBy(col("b"))))
        .withColumn("pn", sum(col("n")).over(w))
        .withColumn("ps", sum(col("sx")).over(w))
        .withColumn("pq", sum(col("ssq")).over(w))
        .select(col("idx").cast(LongType).as("idx"), col("b"),
          col("pn"), col("ps"), col("pq"))
        .persistTracked()
      val zero = prefix.sparkSession.range(1)
        .select(lit(0L).as("idx"), lit(-1L).as("b"),
          lit(0L).as("pn"), lit(0L).as("ps"), lit(0L).as("pq"))
      val pref0 = prefix
        .select(col("idx"), col("b"), col("pn"), col("ps"), col("pq"))
        .unionAll(zero).persistTracked()
      // segment costs over contiguous idx ranges [lo..hi]
      val costs = pref0.as("hi")
        .join(pref0.as("lo0"), col("lo0.idx") < col("hi.idx"))
        .select(
          (col("lo0.idx") + 1).as("lo"), col("hi.idx").as("hi"),
          (col("hi.pn") - col("lo0.pn")).as("cn"),
          (col("hi.ps") - col("lo0.ps")).as("cs"),
          (col("hi.pq") - col("lo0.pq")).as("cq"))
        .withColumn("cost",
          (col("cn").cast(DoubleType) * col("cq").cast(DoubleType) -
            col("cs").cast(DoubleType) * col("cs").cast(DoubleType)) /
            col("cn").cast(DoubleType))
        .select(col("lo"), col("hi"), col("cn"), col("cost"))
        .persistTracked()
      val k = prefix.agg(max(col("idx")).as("k"))
      val splits = prefix.crossJoin(broadcast(k))
        .filter(col("idx") < col("k")).select(col("idx"), col("k"))
      def sp(i: Int) = splits.select(col("idx").as(s"s$i"),
        col("k").as(s"k$i"))
      val combos = sp(1)
        .join(broadcast(sp(2)), col("s1") < col("s2"))
        .join(broadcast(sp(3)), col("s2") < col("s3"))
        .join(broadcast(sp(4)), col("s3") < col("s4"))
        .join(broadcast(sp(5)), col("s4") < col("s5"))
        .select(col("s1"), col("s2"), col("s3"), col("s4"), col("s5"),
          col("k1").as("k"))
      def cj(df: DataFrame, alias: String,
          lo: org.apache.spark.sql.Column,
          hi: org.apache.spark.sql.Column) =
        df.join(broadcast(costs.select(col("lo").as(s"${alias}_lo"),
          col("hi").as(s"${alias}_hi"), col("cost").as(s"${alias}_c"))),
          lo === col(s"${alias}_lo") && hi === col(s"${alias}_hi"))
      var scored = cj(combos, "c1", lit(1L), col("s1"))
      scored = cj(scored, "c2", col("s1") + 1, col("s2"))
      scored = cj(scored, "c3", col("s2") + 1, col("s3"))
      scored = cj(scored, "c4", col("s3") + 1, col("s4"))
      scored = cj(scored, "c5", col("s4") + 1, col("s5"))
      scored = cj(scored, "c6", col("s5") + 1, col("k"))
      val best = scored
        .withColumn("total_sse",
          col("c1_c") + col("c2_c") + col("c3_c") + col("c4_c") +
            col("c5_c") + col("c6_c"))
        .orderBy(col("total_sse"), col("s1"), col("s2"), col("s3"),
          col("s4"), col("s5"))
        .limit(1)
      val bins = best.select(col("total_sse"),
          explode(expr(
            """array(struct(1L AS bin, 1L AS lo, s1 AS hi),
                     struct(2L AS bin, s1 + 1 AS lo, s2 AS hi),
                     struct(3L AS bin, s2 + 1 AS lo, s3 AS hi),
                     struct(4L AS bin, s3 + 1 AS lo, s4 AS hi),
                     struct(5L AS bin, s4 + 1 AS lo, s5 AS hi),
                     struct(6L AS bin, s5 + 1 AS lo, k AS hi))"""))
            .as("seg"))
        .select(col("total_sse"), col("seg.bin").as("bin"),
          col("seg.lo").as("lo"), col("seg.hi").as("hi"))
      bins
        .join(broadcast(costs), Seq("lo", "hi"))
        .join(broadcast(prefix.select(col("idx").as("lo"),
          col("b").as("lo_bucket"))), Seq("lo"))
        .join(broadcast(prefix.select(col("idx").as("hi"),
          col("b").as("hi_bucket"))), Seq("hi"))
        .select(col("bin"), col("lo_bucket"), col("hi_bucket"),
          col("cn").as("n"), col("cost").as("sse"), col("total_sse"))
        .orderBy(col("bin"))
    },
    Some(s"""
      WITH buckets AS (
        SELECT x // 2000 AS b, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS ssq
        FROM (SELECT ${Det.centsSql("o_totalprice")} // 1000 AS x
              FROM orders) o
        GROUP BY 1
      ), prefix AS (
        SELECT CAST(row_number() OVER (ORDER BY b) AS BIGINT) AS idx, b,
               CAST(sum(n) OVER cum AS BIGINT) AS pn,
               CAST(sum(sx) OVER cum AS BIGINT) AS ps,
               CAST(sum(ssq) OVER cum AS BIGINT) AS pq
        FROM buckets
        WINDOW cum AS (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ), pref0 AS (
        SELECT idx, b, pn, ps, pq FROM prefix
        UNION ALL
        SELECT 0, -1, 0, 0, 0
      ), costs AS (
        SELECT l.idx + 1 AS lo, h.idx AS hi,
               h.pn - l.pn AS cn,
               (CAST(h.pn - l.pn AS DOUBLE) * CAST(h.pq - l.pq AS DOUBLE)
                  - CAST(h.ps - l.ps AS DOUBLE)
                    * CAST(h.ps - l.ps AS DOUBLE))
                 / CAST(h.pn - l.pn AS DOUBLE) AS cost
        FROM pref0 h JOIN pref0 l ON l.idx < h.idx
      ), kk AS (
        SELECT max(idx) AS k FROM prefix
      ), splits AS (
        SELECT idx FROM prefix CROSS JOIN kk WHERE idx < k
      ), combos AS (
        SELECT a.idx AS s1, b2.idx AS s2, c.idx AS s3, d2.idx AS s4,
               e.idx AS s5, kk.k
        FROM splits a, splits b2, splits c, splits d2, splits e, kk
        WHERE a.idx < b2.idx AND b2.idx < c.idx AND c.idx < d2.idx
          AND d2.idx < e.idx
      ), scored AS (
        SELECT s1, s2, s3, s4, s5, k,
               c1.cost + c2.cost + c3.cost + c4.cost + c5.cost + c6.cost
                 AS total_sse
        FROM combos
        JOIN costs c1 ON c1.lo = 1 AND c1.hi = s1
        JOIN costs c2 ON c2.lo = s1 + 1 AND c2.hi = s2
        JOIN costs c3 ON c3.lo = s2 + 1 AND c3.hi = s3
        JOIN costs c4 ON c4.lo = s3 + 1 AND c4.hi = s4
        JOIN costs c5 ON c5.lo = s4 + 1 AND c5.hi = s5
        JOIN costs c6 ON c6.lo = s5 + 1 AND c6.hi = k
      ), best AS (
        SELECT * FROM scored
        ORDER BY total_sse, s1, s2, s3, s4, s5 LIMIT 1
      ), bins AS (
        SELECT total_sse, u.bin, u.lo, u.hi
        FROM best, unnest([
          {'bin': 1, 'lo': 1, 'hi': s1},
          {'bin': 2, 'lo': s1 + 1, 'hi': s2},
          {'bin': 3, 'lo': s2 + 1, 'hi': s3},
          {'bin': 4, 'lo': s3 + 1, 'hi': s4},
          {'bin': 5, 'lo': s4 + 1, 'hi': s5},
          {'bin': 6, 'lo': s5 + 1, 'hi': k}]) AS t(u)
      )
      SELECT CAST(bins.bin AS BIGINT) AS bin,
             plo.b AS lo_bucket, phi.b AS hi_bucket,
             c.cn AS n, c.cost AS sse, bins.total_sse
      FROM bins
      JOIN costs c ON c.lo = bins.lo AND c.hi = bins.hi
      JOIN prefix plo ON plo.idx = bins.lo
      JOIN prefix phi ON phi.idx = bins.hi
      ORDER BY bin"""))

  /** q384: CUSUM CHANGEPOINT / DRIFT DETECTION (Page 1954, "Continuous
    * Inspection Schemes"; the tabular two-sided CUSUM of Montgomery
    * §9.1 — the standing data-quality monitor that catches a SLOW mean
    * shift an outlier screen like q133 never sees). The sequential
    * recurrence S⁺_d = max(0, S⁺_{d−1} + (x_d − μ₀ − k)) is carry-free
    * via the running-extremum identity: with w_d = dev_d − k and
    * cum_d = Σ_{i≤d} w_i, S⁺_d = cum_d − min(0, min_{j≤d} cum_j) (and
    * symmetrically S⁻ off a running max) — two window passes, no fold.
    * ALL-INTEGER: deviations are cross-multiplied by the pre-period
    * month count (dev_d = v_d·N_pre − T_pre — never a double mean),
    * slack k = T_pre÷4 (μ₀/4 in the same scale), decision interval
    * h = T_pre (4k, the classic h = 4σ-ish tabular choice; at sf0.001
    * the monthly noise is ±24% of μ₀ — k and h must absorb a 48-month
    * in-control random walk at EVERY SF, parameter-swept before
    * shipping). Dosed: a +50% multiplicative level shift (v = x + x÷2)
    * from 1999-01 on —
    * SF-proportional, so the alarm month is stable across scales.
    * Scale: one scan to an ≈80-row month rollup; the windows run over
    * that bounded aggregate (whitelisted bare-window shape). */
  val q384 = Q(
    "q384_cusum",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.load(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("x"))
        .withColumn("v",
          when(col("month") >= lit("1999-01-01").cast(TimestampType),
            col("x") + expr("x div 2")).otherwise(col("x")))
      val pre = monthly
        .filter(col("month") < lit("1999-01-01").cast(TimestampType))
        .agg(count(lit(1)).as("n_pre"), sum(col("v")).as("t_pre"))
      val w = Window.orderBy(col("month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      monthly.crossJoin(broadcast(pre))
        .withColumn("dev", col("v") * col("n_pre") - col("t_pre"))
        .withColumn("k", expr("t_pre div 4"))
        .withColumn("h", col("t_pre"))
        .withColumn("cum_pos", sum(col("dev") - col("k")).over(w))
        .withColumn("cum_neg", sum(col("dev") + col("k")).over(w))
        .withColumn("s_pos",
          col("cum_pos") - least(min(col("cum_pos")).over(w), lit(0L)))
        .withColumn("s_neg",
          greatest(max(col("cum_neg")).over(w), lit(0L)) - col("cum_neg"))
        .select(col("month"), col("v").as("revenue_cents"),
          col("s_pos"), col("s_neg"),
          (col("s_pos") > col("h")).as("alarm_up"),
          (col("s_neg") > col("h")).as("alarm_down"))
        .orderBy(col("month"))
    },
    Some(s"""
      WITH monthly AS (
        -- DuckDB date_trunc returns DATE; Spark returns TIMESTAMP
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                 AS month,
               sum(${Det.centsSql("o_totalprice")}) AS x
        FROM orders GROUP BY 1
      ), dosed AS (
        SELECT month, x,
               CASE WHEN month >= TIMESTAMP '1999-01-01'
                    THEN x + x // 2 ELSE x END AS v
        FROM monthly
      ), pre AS (
        SELECT count(*) AS n_pre, CAST(sum(v) AS BIGINT) AS t_pre
        FROM dosed WHERE month < TIMESTAMP '1999-01-01'
      ), cums AS (
        SELECT month, v,
               t_pre AS h,
               sum(v * n_pre - t_pre - t_pre // 4)
                 OVER (ORDER BY month
                       ROWS UNBOUNDED PRECEDING) AS cum_pos,
               sum(v * n_pre - t_pre + t_pre // 4)
                 OVER (ORDER BY month
                       ROWS UNBOUNDED PRECEDING) AS cum_neg
        FROM dosed, pre
      )
      SELECT month, CAST(v AS BIGINT) AS revenue_cents,
             CAST(cum_pos - least(min(cum_pos)
               OVER (ORDER BY month ROWS UNBOUNDED PRECEDING), 0)
               AS BIGINT) AS s_pos,
             CAST(greatest(max(cum_neg)
               OVER (ORDER BY month ROWS UNBOUNDED PRECEDING), 0)
               - cum_neg AS BIGINT) AS s_neg,
             cum_pos - least(min(cum_pos)
               OVER (ORDER BY month ROWS UNBOUNDED PRECEDING), 0) > h
               AS alarm_up,
             greatest(max(cum_neg)
               OVER (ORDER BY month ROWS UNBOUNDED PRECEDING), 0)
               - cum_neg > h AS alarm_down
      FROM cums
      ORDER BY month"""))

  /** q399: KAPLAN–MEIER SURVIVAL CURVE WITH RIGHT CENSORING (Kaplan &
    * Meier JASA 1958, "Nonparametric Estimation from Incomplete
    * Observations" — the product-limit estimator behind every
    * churn/retention read that q113-style day-bucket retention gets
    * WRONG once observations are censored): at each event time t,
    * Ŝ(t) = Π_{u≤t} (n_u − d_u)/n_u over the at-risk counts. Dosed:
    * per-customer duration (key·40503)%400+1 with 1-in-5 censoring on
    * an independent residue — the censoring is genuinely load-bearing
    * (censored subjects leave the risk set without an event). EXACT:
    * at-risk counts come from a reverse cumulative window over the
    * time rollup (all integers); each factor is ONE division
    * (n−d)/n, and the running product folds in time order on both
    * engines — Spark refolds the factor prefix per index (unit init),
    * the DuckDB twin takes list_aggregate(prefix, 'product'): the
    * SAME left-to-right chain, bit-equal since 1.0·f = f (a
    * struct-accumulator list_reduce mis-evaluates in DuckDB 1.0.0 —
    * measured, avoided). Scale: one scan to a
    * ≤duration-domain rollup (≤533 rows); the fold is metadata-sized. */
  val q399 = Q(
    "q399_kaplan_meier",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val subj = Tables.load(s, d, "customer")
        .select(
          (expr("(c_custkey * 40503L) % 400") + 1).as("t"),
          (expr("(c_custkey * 7919L) % 5") === 0).as("cen"))
      val byT = subj.groupBy(col("t"))
        .agg(
          sum(when(!col("cen"), 1L).otherwise(0L)).as("n_events"),
          sum(when(col("cen"), 1L).otherwise(0L)).as("n_censored"))
      val wRisk = Window.orderBy(col("t"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val risk = byT.withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(wRisk))
      // running product spelled as per-index prefix refolds: the i-th
      // survival is the left-to-right chain ((f1*f2)*...)*fi — the SAME
      // chain in DuckDB's list_aggregate('product') (verified bit-equal;
      // a struct-accumulator list_reduce mis-evaluates in DuckDB 1.0.0)
      val curve = risk
        .agg(expr("array_sort(collect_list(struct(t, n_risk, " +
          "n_events, n_censored)))").as("arr"))
        .withColumn("factors", expr(
          """transform(arr, x ->
            |  CAST(x.n_risk - x.n_events AS DOUBLE)
            |  / CAST(x.n_risk AS DOUBLE))""".stripMargin))
        .select(explode(expr(
          """transform(sequence(1, size(arr)), i -> named_struct(
            |  't', element_at(arr, i).t,
            |  'n_risk', element_at(arr, i).n_risk,
            |  'n_events', element_at(arr, i).n_events,
            |  'n_censored', element_at(arr, i).n_censored,
            |  'survival', aggregate(slice(factors, 1, i),
            |    CAST(1 AS DOUBLE), (a, f) -> a * f)))""".stripMargin))
          .as("r"))
      curve.select(col("r.t").as("t"), col("r.n_risk").as("n_risk"),
        col("r.n_events").as("n_events"),
        col("r.n_censored").as("n_censored"),
        col("r.survival").as("survival"))
        .orderBy(col("t"))
    },
    Some("""
      WITH subj AS (
        SELECT (c_custkey * 40503) % 400 + 1 AS t,
               (c_custkey * 7919) % 5 = 0 AS cen
        FROM customer
      ), byt AS (
        SELECT t,
               CAST(sum(CASE WHEN NOT cen THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_events,
               CAST(sum(CASE WHEN cen THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_censored
        FROM subj GROUP BY t
      ), risk AS (
        SELECT t, n_events, n_censored,
               CAST(sum(n_events + n_censored) OVER (ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                 AS BIGINT) AS n_risk
        FROM byt
      ), one AS (
        SELECT list(struct_pack(t := t, n_risk := n_risk,
                 n_events := n_events, n_censored := n_censored)
                 ORDER BY t) AS arr
        FROM risk
      ), folded AS (
        SELECT arr,
               list_transform(arr, x ->
                 CAST(x.n_risk - x.n_events AS DOUBLE)
                 / CAST(x.n_risk AS DOUBLE)) AS factors
        FROM one
      )
      SELECT r.t AS t, r.n_risk AS n_risk, r.n_events AS n_events,
             r.n_censored AS n_censored, r.survival AS survival
      FROM (
        SELECT unnest(list_transform(range(1, len(arr) + 1), i ->
          struct_pack(t := arr[i].t, n_risk := arr[i].n_risk,
            n_events := arr[i].n_events,
            n_censored := arr[i].n_censored,
            survival := list_aggregate(factors[1:i], 'product')))) AS r
        FROM folded
      ) u
      ORDER BY t"""))

  /** q400: LOG-RANK TEST (Mantel 1966; Peto & Peto 1972 — the standard
    * two-group comparison of q399's survival curves, the A/B read for
    * time-to-event outcomes that a mean test gets wrong under
    * censoring): at each event time, group 1's observed events o₁ vs
    * expected e₁ = d·n₁/n under the null, hypergeometric variance
    * v = d·(n₁/n)·(1−n₁/n)·(n−d)/(n−1) (0 when n ≤ 1, the standard
    * convention), χ² = (Σ(o₁−e₁))²/Σv against 3.841. Dosed/control
    * differential (q387 shape): the dosed variant stretches group 1's
    * durations by +⅓ (χ² ≥ 15.7 at every SF, control ≤ 1 —
    * parameter-swept). EXACT: all counts integer (at-risk via reverse
    * cumulative windows PARTITIONED by variant); e₁ and v are
    * identical-operand doubles folded in time order on both engines
    * (two q304 folds). Scale: rollup ≤ 2·533 rows. */
  val q400 = Q(
    "q400_logrank_test",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("key"),
          expr("(c_custkey * 2654435761L) % 2").as("g"),
          (expr("(c_custkey * 40503L) % 400") + 1).as("t0"),
          (expr("(c_custkey * 7919L) % 5") === 0).as("cen"))
      val panel = base.select(lit("dosed").as("variant"), col("g"),
        when(col("g") === 1, col("t0") + expr("t0 div 3"))
          .otherwise(col("t0")).as("t"), col("cen"))
        .unionAll(base.select(lit("control").as("variant"), col("g"),
          col("t0").as("t"), col("cen")))
      val byT = panel.groupBy(col("variant"), col("t"))
        .agg(
          sum(when(!col("cen"), 1L).otherwise(0L)).as("d_all"),
          sum(when(!col("cen") && col("g") === 1, 1L).otherwise(0L))
            .as("o1"),
          count(lit(1)).as("leave_all"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("leave_1"))
      val wRisk = Window.partitionBy(col("variant")).orderBy(col("t"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val risk = byT
        .withColumn("n", sum(col("leave_all")).over(wRisk))
        .withColumn("n1", sum(col("leave_1")).over(wRisk))
        .filter(col("d_all") > 0)
        .persistTracked()
      val folded = risk.groupBy(col("variant"))
        .agg(
          sum(col("o1")).as("o1_total"),
          expr(
            """aggregate(array_sort(collect_list(struct(t,
              |  CAST(d_all AS DOUBLE) * CAST(n1 AS DOUBLE)
              |    / CAST(n AS DOUBLE) AS x))),
              |  CAST(0 AS DOUBLE), (acc, e) -> acc + e.x)"""
              .stripMargin).as("e1_total"),
          expr(
            """aggregate(array_sort(collect_list(struct(t,
              |  CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
              |  ELSE CAST(d_all AS DOUBLE)
              |    * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
              |    * (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))
              |    * (CAST(n - d_all AS DOUBLE)
              |       / CAST(n - 1 AS DOUBLE)) END AS x))),
              |  CAST(0 AS DOUBLE), (acc, e) -> acc + e.x)"""
              .stripMargin).as("v_total"))
      folded
        .withColumn("chi2",
          ((col("o1_total").cast(DoubleType) - col("e1_total")) *
            (col("o1_total").cast(DoubleType) - col("e1_total"))) /
            col("v_total"))
        .withColumn("reject_05", col("chi2") > 3.841459)
        .select(col("variant"), col("o1_total"), col("e1_total"),
          col("v_total"), col("chi2"), col("reject_05"))
        .orderBy(col("variant"))
    },
    Some("""
      WITH base AS (
        SELECT (c_custkey * 2654435761) % 2 AS g,
               (c_custkey * 40503) % 400 + 1 AS t0,
               (c_custkey * 7919) % 5 = 0 AS cen
        FROM customer
      ), panel AS (
        SELECT 'dosed' AS variant, g,
               CASE WHEN g = 1 THEN t0 + t0 // 3 ELSE t0 END AS t, cen
        FROM base
        UNION ALL
        SELECT 'control' AS variant, g, t0 AS t, cen FROM base
      ), byt AS (
        SELECT variant, t,
               CAST(sum(CASE WHEN NOT cen THEN 1 ELSE 0 END) AS BIGINT)
                 AS d_all,
               CAST(sum(CASE WHEN NOT cen AND g = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS o1,
               count(*) AS leave_all,
               CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS leave_1
        FROM panel GROUP BY variant, t
      ), risk AS (
        SELECT variant, t, d_all, o1,
               CAST(sum(leave_all) OVER (PARTITION BY variant ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                 AS BIGINT) AS n,
               CAST(sum(leave_1) OVER (PARTITION BY variant ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                 AS BIGINT) AS n1
        FROM byt
      ), ev AS (
        SELECT * FROM risk WHERE d_all > 0
      ), folded AS (
        SELECT variant,
               CAST(sum(o1) AS BIGINT) AS o1_total,
               list_reduce(list_transform(list(struct_pack(t := t,
                 x := CAST(d_all AS DOUBLE) * CAST(n1 AS DOUBLE)
                      / CAST(n AS DOUBLE)) ORDER BY t), e -> e.x),
                 (a, b) -> a + b) AS e1_total,
               list_reduce(list_transform(list(struct_pack(t := t,
                 x := CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                 ELSE CAST(d_all AS DOUBLE)
                   * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(n - d_all AS DOUBLE)
                      / CAST(n - 1 AS DOUBLE)) END) ORDER BY t),
                 e -> e.x), (a, b) -> a + b) AS v_total
        FROM ev GROUP BY variant
      )
      SELECT variant, o1_total, e1_total, v_total,
             (CAST(o1_total AS DOUBLE) - e1_total)
               * (CAST(o1_total AS DOUBLE) - e1_total) / v_total
               AS chi2,
             (CAST(o1_total AS DOUBLE) - e1_total)
               * (CAST(o1_total AS DOUBLE) - e1_total) / v_total
               > 3.841459 AS reject_05
      FROM folded
      ORDER BY variant"""))

  /** q407: MANN–KENDALL TREND TEST (Mann 1945, Kendall's τ-based
    * nonparametric trend test; the standing companion to q384's CUSUM —
    * CUSUM catches a LEVEL SHIFT against a fixed baseline, M–K detects
    * a MONOTONE DRIFT with no distributional assumption and no
    * baseline): S = Σ_{i<j} sign(x_j − x_i) over the monthly revenue
    * series, Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 with the
    * exact tie correction, z = (S∓1)/√Var. ALL-INTEGER until the last
    * mile: monthly values are exact cents sums, S and the variance
    * numerator are integer sums over the 80-month rollup's bounded
    * self-join (6.4k sign comparisons — never corpus-sized), and z is
    * one division of one correctly-rounded sqrt — bit-identical
    * cross-engine with no libm caveat. Dosed/control on one panel
    * (q387's discipline): the dosed series adds a +5%/month
    * multiplicative ramp from 1997-01 (calendar-derived, window-free,
    * SF-proportional); PARAMETER-SWEPT in DuckDB first — control |z| ≤
    * 1.53 and dosed z ≥ 7.86 at every SF, so the 1.96 bar genuinely
    * separates. Scale: one scan to the month rollup; everything after
    * is O(months²) on ~80 rows. */
  val q407 = Q(
    "q407_mann_kendall",
    (s, d) => {
      val monthly = Tables.load(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("x"))
      val panels = monthly
        .select(lit("control").as("panel"), col("m"), col("x").as("v"))
        .unionByName(monthly.select(lit("dosed").as("panel"), col("m"),
          (col("x") + expr(
            "x * (CASE WHEN m >= TIMESTAMP '1997-01-01 00:00:00' " +
              "THEN 5L * ((year(m) - 1997) * 12 + month(m)) " +
              "ELSE 0L END) div 100")).as("v")))
        .persistTracked()
      val sS = panels.as("a")
        .join(panels.as("b"),
          col("a.panel") === col("b.panel") && col("b.m") > col("a.m"))
        .groupBy(col("a.panel").as("panel"))
        .agg(sum(
          when(col("b.v") > col("a.v"), 1L)
            .when(col("b.v") < col("a.v"), -1L)
            .otherwise(0L)).as("s"))
      val nn = panels.groupBy(col("panel")).agg(count(lit(1)).as("n"))
      val ties = panels.groupBy(col("panel"), col("v"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("panel"))
        .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
          .as("tie_term"))
      sS.join(nn, Seq("panel")).join(ties, Seq("panel"))
        .withColumn("var_s",
          (col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L)
            - col("tie_term")).cast(DoubleType) / lit(18.0))
        .withColumn("z",
          when(col("s") > 0L,
            (col("s") - 1L).cast(DoubleType) / sqrt(col("var_s")))
            .when(col("s") < 0L,
              (col("s") + 1L).cast(DoubleType) / sqrt(col("var_s")))
            .otherwise(lit(0.0)))
        .select(col("panel"), col("n").as("n_months"), col("s"),
          col("var_s"), col("z"),
          (abs(col("z")) > 1.959964).as("trending"))
        .orderBy(col("panel"))
    },
    Some(s"""
      WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
               CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS x
        FROM orders GROUP BY 1
      ), panels AS (
        SELECT 'control' AS panel, m, x AS v FROM monthly
        UNION ALL
        SELECT 'dosed', m,
               x + x * (CASE WHEN m >= TIMESTAMP '1997-01-01'
                             THEN 5 * ((year(m) - 1997) * 12 + month(m))
                             ELSE 0 END) // 100
        FROM monthly
      ), s AS (
        SELECT a.panel,
               CAST(sum(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END)
                 AS BIGINT) AS s
        FROM panels a
        JOIN panels b ON a.panel = b.panel AND b.m > a.m
        GROUP BY a.panel
      ), nn AS (
        SELECT panel, count(*) AS n FROM panels GROUP BY panel
      ), ties AS (
        SELECT panel,
               CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                 AS tie_term
        FROM (SELECT panel, v, count(*) AS t FROM panels
              GROUP BY panel, v)
        GROUP BY panel
      ), stats AS (
        SELECT s.panel, n AS n_months, s.s,
               CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0
                 AS var_s
        FROM s JOIN nn USING (panel) JOIN ties USING (panel)
      )
      SELECT panel, n_months, s, var_s,
             CASE WHEN s > 0
                    THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
                  WHEN s < 0
                    THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
                  ELSE 0.0 END AS z,
             abs(CASE WHEN s > 0
                        THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
                      WHEN s < 0
                        THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
                      ELSE 0.0 END) > 1.959964 AS trending
      FROM stats
      ORDER BY panel"""))

  /** Benford first-digit micromasses log₁₀(1+1/d)·10⁶, rounded — they
    * sum to exactly 1,000,000, so expectations are exact integer
    * products. ONE table rendered for both engines (the segWindowsExpr
    * discipline). */
  private val BenfordMicros = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** q409: BENFORD'S-LAW FIRST-DIGIT AUDIT (Newcomb 1881 / Benford
    * 1938; the fraud/data-quality screen auditors run on financial
    * columns — GAAP forensic practice per Nigrini): the first
    * significant digit of every order's integer-cents total against
    * the log₁₀(1+1/d) reference masses, hardcoded as MICRO-INTEGER
    * constants summing to exactly 10⁶ (log10() never enters either
    * engine — the q384/q388 log-free discipline). Per digit: observed
    * count, expected = n·p_d/10⁶ (ONE division of exact integers), χ²
    * contribution (obs−exp)²/exp from those same exact operands, and
    * the RUNNING χ² via the digit-ordered fold (collect-sort-aggregate
    * ↔ list_reduce — the q184 agreed-order pattern), so the 9-term
    * double sum is bit-identical cross-engine. TPC-H totalprice is a
    * bounded sum of uniforms and genuinely NON-Benford — the audit's
    * job is to SAY so with a stable, exact statistic (the differential
    * is the deliverable, not conformance). Scale: one scan to a 9-row
    * rollup; the fold rides 9 rows. */
  val q409 = Q(
    "q409_benford_audit",
    (s, d) => {
      import s.implicits._
      val ben = BenfordMicros.toDF("digit", "p_micros")
      val obs = Tables.load(s, d, "orders")
        .select(substring(Det.cents(col("o_totalprice"))
          .cast(StringType), 1, 1).cast(LongType).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).as("n"))
      val per = broadcast(ben.withColumn("digit", col("digit").cast(LongType)))
        .join(obs, Seq("digit"), "left")
        .select(col("digit"), col("p_micros"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"))
        .crossJoin(broadcast(tot))
        .withColumn("expected",
          (col("n") * col("p_micros")).cast(DoubleType) / lit(1000000.0))
        .withColumn("contrib",
          (col("n_obs").cast(DoubleType) - col("expected"))
            * (col("n_obs").cast(DoubleType) - col("expected"))
            / col("expected"))
      val chi2 = per.agg(expr(
        """aggregate(
             transform(array_sort(collect_list(struct(digit, contrib))),
                       x -> x.contrib),
             CAST(0 AS DOUBLE), (a, x) -> a + x)""").as("chi2_total"))
      per.crossJoin(broadcast(chi2))
        .select(col("digit"), col("n_obs"), col("p_micros"),
          col("expected"), col("contrib"), col("chi2_total"),
          // χ²₀.₀₅ with 8 df — Benford conformance verdict
          (col("chi2_total") <= 15.507313).as("conforms"))
        .orderBy(col("digit"))
    },
    Some(s"""
      WITH ben AS (
        SELECT * FROM (VALUES
          ${BenfordMicros.map { case (dg, p) => s"($dg, $p)" }
            .mkString(",\n          ")}) AS t(digit, p_micros)
      ), obs AS (
        SELECT CAST(substr(CAST(${Det.centsSql("o_totalprice")}
                 AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               count(*) AS n_obs
        FROM orders GROUP BY 1
      ), tot AS (
        SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs
      ), per AS (
        SELECT CAST(b.digit AS BIGINT) AS digit,
               CAST(b.p_micros AS BIGINT) AS p_micros,
               coalesce(o.n_obs, 0) AS n_obs,
               CAST(n * b.p_micros AS DOUBLE) / 1000000.0 AS expected
        FROM ben b LEFT JOIN obs o ON o.digit = b.digit CROSS JOIN tot
      ), per2 AS (
        SELECT digit, n_obs, p_micros, expected,
               (CAST(n_obs AS DOUBLE) - expected)
                 * (CAST(n_obs AS DOUBLE) - expected) / expected AS contrib
        FROM per
      ), chi AS (
        SELECT list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                              list(contrib ORDER BY digit)),
                 (a, b) -> a + b) AS chi2_total
        FROM per2
      )
      SELECT digit, n_obs, p_micros, expected, contrib, chi2_total,
             chi2_total <= 15.507313 AS conforms
      FROM per2, chi
      ORDER BY digit"""))

  /** q410: HAMPEL (MAD) ROBUST OUTLIER SCREEN (Hampel 1974; the
    * robust-z identifier of Davies & Gather 1993 — the outlier filter
    * that, unlike q133's mean/stddev screen, cannot be MASKED by the
    * outliers it hunts, because median and MAD have 50% breakdown):
    * daily revenue, robust z = |x − med| / (1.4826·MAD), flag at 3.5
    * (the standard Hampel band). Median/MAD via the established exact
    * percentile spelling (q05's percentile(·, 0.5D) ↔ quantile_cont);
    * every interpolated half stays an EXACT double (longs < 2⁵², so
    * lower + (upper−lower)·0.5 has no rounding), 1.4826 is the same
    * literal in both engines — the z comparison is bit-identical.
    * Dosed/control: ×5 spikes on the 15th of every 3rd month;
    * SWEPT: at sf0.1 all 26 dosed days flag and control flags zero;
    * at sf0.001 13/17 flag — the misses are genuinely THIN days whose
    * ×5 revenue still sits near the median, which is the honest
    * behavior of a revenue-scale screen (gate: ≥¾ detected, dosed
    * flags strictly exceed control's). Scale: one scan to the daily
    * rollup; medians ride the bounded per-panel rollup. */
  val q410 = Q(
    "q410_hampel_outliers",
    (s, d) => {
      val daily = Tables.load(s, d, "orders")
        .groupBy(col("o_orderdate").as("dt"),
          (dayofmonth(col("o_orderdate")) === 15 &&
            month(col("o_orderdate")) % 3 === 0).as("dosed_day"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("x"))
      val panels = daily
        .select(lit("control").as("panel"), col("dt"), col("x").as("v"),
          col("dosed_day"))
        .unionByName(daily.select(lit("dosed").as("panel"), col("dt"),
          when(col("dosed_day"), col("x") * 5L).otherwise(col("x"))
            .as("v"),
          col("dosed_day")))
        .persistTracked()
      val med = panels.groupBy(col("panel"))
        .agg(expr("percentile(v, 0.5D)").as("m"))
      val dev = panels.join(broadcast(med), Seq("panel"))
        .withColumn("ad", abs(col("v").cast(DoubleType) - col("m")))
        .persistTracked()
      val mad = dev.groupBy(col("panel"))
        .agg(expr("percentile(ad, 0.5D)").as("mad"))
      dev.join(broadcast(mad), Seq("panel"))
        .withColumn("flag",
          col("ad") / (lit(1.4826) * col("mad")) > 3.5)
        .groupBy(col("panel"))
        .agg(
          count(lit(1)).as("n_days"),
          max(col("m")).as("med"),
          max(col("mad")).as("mad"),
          sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"),
          sum(when(col("dosed_day"), 1L).otherwise(0L)).as("n_dosed_days"),
          sum(when(col("flag") && col("dosed_day"), 1L).otherwise(0L))
            .as("n_dosed_flagged"))
        .orderBy(col("panel"))
    },
    Some(s"""
      WITH daily AS (
        SELECT o_orderdate AS dt,
               (day(o_orderdate) = 15 AND month(o_orderdate) % 3 = 0)
                 AS dosed_day,
               CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2
      ), panels AS (
        SELECT 'control' AS panel, dt, x AS v, dosed_day FROM daily
        UNION ALL
        SELECT 'dosed', dt,
               CASE WHEN dosed_day THEN 5 * x ELSE x END, dosed_day
        FROM daily
      ), med AS (
        SELECT panel, quantile_cont(v, 0.5) AS m FROM panels GROUP BY 1
      ), dev AS (
        SELECT p.panel, dt, dosed_day,
               abs(CAST(v AS DOUBLE) - m) AS ad
        FROM panels p JOIN med USING (panel)
      ), mad AS (
        SELECT panel, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
      )
      SELECT dev.panel, count(*) AS n_days,
             max(m) AS med, max(mad.mad) AS mad,
             CAST(sum(CASE WHEN ad / (1.4826 * mad.mad) > 3.5
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
             CAST(sum(CASE WHEN dosed_day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dosed_days,
             CAST(sum(CASE WHEN dosed_day AND ad / (1.4826 * mad.mad) > 3.5
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_dosed_flagged
      FROM dev JOIN mad USING (panel) JOIN med USING (panel)
      GROUP BY dev.panel
      ORDER BY dev.panel"""))

  /** q415: PETTITT CHANGEPOINT TEST (Pettitt 1979) — the rank-based
    * single-changepoint locator: where q384's CUSUM needs a reference
    * level and slack k, and q407's Mann–Kendall asks "is there a
    * monotone trend", Pettitt asks "did the level SHIFT, and WHEN" with
    * no distributional dose at all. U_t = Σ_{i≤t} Σ_{j>t} sgn(x_j−x_i)
    * over the 80-month revenue series; K = max_t |U_t|, t* = the
    * earliest argmax (ties broken by MIN t — deterministic in both
    * engines: filter |U_t| = K then MIN(t), never arg_max). Significance at α=.05
    * via K > K_crit = √(−ln(.025)·(n³+n²)/6): the ln is the literal
    * 3.6888794541139363 (a COMPILE-TIME constant like q407's 1.959964;
    * no libm call crosses the engines), the sqrt is IEEE
    * correctly-rounded on identical operands. All-integer U_t: months
    * are BOUNDED (n=80 → 3160 sign pairs → 256k (pair,t) rows,
    * metadata-sized at any corpus scale — the month rollup is the only
    * data-sized pass). Dosed/control: +30% from month 49 (dose by
    * INDEX, not date — fixture date ranges differ); swept: control
    * K ≤ 390 < 564.6 at every SF, dosed K ≥ 740, argmax within 9 of
    * the pivot at sf0.001 (thin-month noise) and exactly 47 at
    * sf0.01/0.1. */
  val q415 = Q(
    "q415_pettitt_test",
    (s, d) => {
      val monthly = Tables.load(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("x"))
      // bare window over the calendar-bounded month rollup (~80 rows at
      // any corpus size — the audited bounded-frame pattern, and the
      // oracle's own row_number shape)
      val idx = monthly.withColumn("i",
        row_number().over(Window.orderBy(col("mo"))).cast(LongType))
      val panels = idx
        .select(lit("control").as("panel"), col("i"), col("x"))
        .unionByName(idx.select(lit("dosed").as("panel"), col("i"),
          when(col("i") >= 49L, col("x") + expr("x * 3 DIV 10"))
            .otherwise(col("x")).as("x")))
        .persistTracked()
      val b = panels.select(col("panel"), col("i").as("j"),
        col("x").as("xj"))
      val pairs = panels.join(b, Seq("panel"))
        .filter(col("i") < col("j"))
        .select(col("panel"), col("i"), col("j"),
          signum(col("xj") - col("x")).cast(LongType).as("sg"))
      val ts = panels.filter(col("panel") === "control")
        .select(col("i").as("t"))
      val ut = pairs.join(broadcast(ts),
          col("i") <= col("t") && col("j") > col("t"))
        .groupBy(col("panel"), col("t"))
        .agg(sum(col("sg")).as("u"))
      val n = panels.filter(col("panel") === "control")
        .groupBy().agg(count(lit(1)).as("n"))
      // K and its earliest argmax in one panel-partitioned window pass
      // over the months-sized U_t frame (was a groupBy + join-back)
      ut.withColumn("k_stat",
          max(abs(col("u"))).over(Window.partitionBy(col("panel"))))
        .filter(abs(col("u")) === col("k_stat"))
        .groupBy(col("panel"), col("k_stat"))
        .agg(min(col("t")).as("t_star"))
        .crossJoin(broadcast(n))
        .withColumn("k_crit",
          sqrt(lit(3.6888794541139363) *
            (col("n").cast(DoubleType) * col("n").cast(DoubleType) *
              col("n").cast(DoubleType) +
              col("n").cast(DoubleType) * col("n").cast(DoubleType)) /
            lit(6.0)))
        .select(col("panel"), col("n"), col("k_stat"), col("t_star"),
          col("k_crit"), (col("k_stat").cast(DoubleType) > col("k_crit"))
            .as("shift_detected"))
        .orderBy(col("panel"))
    },
    Some(s"""
      WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS mo,
               CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS x
        FROM orders GROUP BY 1
      ), idx AS (
        SELECT row_number() OVER (ORDER BY mo) AS i, x FROM monthly
      ), panels AS (
        SELECT 'control' AS panel, i, x FROM idx
        UNION ALL
        SELECT 'dosed', i,
               CASE WHEN i >= 49 THEN x + x * 3 // 10 ELSE x END
        FROM idx
      ), pairs AS (
        SELECT a.panel, a.i AS i, b.i AS j,
               CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
                    ELSE 0 END AS sg
        FROM panels a JOIN panels b
          ON a.panel = b.panel AND a.i < b.i
      ), ut AS (
        SELECT p.panel, t.i AS t, CAST(sum(sg) AS BIGINT) AS u
        FROM pairs p JOIN (SELECT i FROM idx) t
          ON p.i <= t.i AND p.j > t.i
        GROUP BY 1, 2
      ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM idx
      ), kmax AS (
        SELECT panel, max(abs(u)) AS k_stat FROM ut GROUP BY panel
      ), star AS (
        SELECT k.panel, k.k_stat, min(u.t) AS t_star
        FROM kmax k JOIN ut u
          ON k.panel = u.panel AND abs(u.u) = k.k_stat
        GROUP BY 1, 2
      )
      SELECT panel, n, k_stat, t_star,
             sqrt(3.6888794541139363e0
                  * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * CAST(n AS DOUBLE)
                     + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 6.0)
               AS k_crit,
             CAST(k_stat AS DOUBLE)
               > sqrt(3.6888794541139363e0
                  * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * CAST(n AS DOUBLE)
                     + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 6.0)
               AS shift_detected
      FROM star CROSS JOIN nn
      ORDER BY panel"""))

  /** q417: LJUNG–BOX WHITE-NOISE PORTMANTEAU (Ljung & Box 1978) — "is
    * the daily series autocorrelated AT ALL?", the one-number companion
    * to q280's per-lag ACF readout (q280 reports the lags, Ljung–Box
    * pools lags 1..7 into a single χ²₇ decision — the residual-
    * whiteness gate every forecasting pipeline runs after q195/q351).
    * Series is DENSIFIED on q280's spine (absent days are true zeros —
    * gaps misalign every lag). EXACT ACF WITHOUT A MEAN SUBTRACTION:
    * the Box–Jenkins sample ACF uses one global mean x̄ = S/n, so scale
    * residuals by n: r_t = n·x_t − S is an exact BIGINT, and the n²
    * factors CANCEL in ρ_k = Σ r_t·r_{t+k} / Σ r_t² — both sums formed
    * on DECIMAL(38)/HUGEINT (|r| ≈ 10¹², products 10²⁴–10²⁶, headroom
    * to 50× fixture scale ≈ 10³¹ ≪ 10³⁸), one IEEE division per lag.
    * Q = n(n+2)·Σ_k ρ_k²/(n−k) folds over the 7 lags in lag order
    * (ordered-fold discipline). Dosed/control: alternating 7-day
    * blocks ×2 (swept: control Q ≤ 8.2 < 14.067 = χ²₇ at α=.05 every
    * SF, dosed Q ≥ 35.7; single-day spikes drowned at sf0.001 — block
    * structure puts mass on ALL the pooled lags). Scale: one fact scan
    * to the calendar-BOUNDED day rollup (~2.4k rows at any corpus
    * size); lag join and folds are day-sized. */
  val q417 = Q(
    "q417_ljung_box",
    (s, d) => {
      val daily = Tables.load(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
      val series = daily
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("d0"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        .join(daily, Seq("day"), "left")
        .select(datediff(col("day"), col("d0")).cast(LongType).as("k"),
          expr("coalesce(c, CAST(0 AS BIGINT))").as("x"))
      val panels = series
        .select(lit("control").as("panel"), col("k"), col("x"))
        .unionByName(series.select(lit("dosed").as("panel"), col("k"),
          when(expr("(k DIV 7) % 2 = 0"), col("x") * 2L)
            .otherwise(col("x")).as("x")))
      val res = panels.join(
          broadcast(panels.groupBy(col("panel").as("p2"))
            .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))),
          col("panel") === col("p2"))
        .select(col("panel"), col("n"), col("k"),
          (col("n") * col("x") - col("sx")).as("r"))
        .persistTracked()
      val den = res.groupBy(col("panel"))
        .agg(sum(col("r").cast(DecimalType(38, 0)) *
          col("r").cast(DecimalType(38, 0))).as("den"))
      val lags = s.range(1L, 8L).select(col("id").as("lag"))
      val b = res.select(col("panel").as("pb"), col("k").as("kb"),
        col("r").as("rb"))
      val nums = res.crossJoin(broadcast(lags))
        .join(b, col("pb") === col("panel") &&
          col("kb") === col("k") + col("lag"))
        .groupBy(col("panel"), col("n"), col("lag"))
        .agg(sum(col("r").cast(DecimalType(38, 0)) *
          col("rb").cast(DecimalType(38, 0))).as("num"))
      nums.join(broadcast(den), Seq("panel"))
        .withColumn("rho",
          col("num").cast(DoubleType) / col("den").cast(DoubleType))
        .withColumn("term",
          col("rho") * col("rho") /
            (col("n") - col("lag")).cast(DoubleType))
        .groupBy(col("panel"), col("n"))
        .agg(expr("aggregate(array_sort(collect_list(struct(lag, term))), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x.term)").as("tsum"))
        .select(col("panel"), col("n").as("n_days"),
          (col("n").cast(DoubleType) * (col("n").cast(DoubleType) + 2.0) *
            col("tsum")).as("q_lb"))
        .withColumn("reject_05", col("q_lb") > 14.067140)
        .orderBy(col("panel"))
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS c
        FROM orders GROUP BY 1
      ), bounds AS (
        SELECT min(day) AS d0, max(day) AS d1 FROM daily
      ), spine AS (
        SELECT d0, CAST(unnest(generate_series(
                     CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                     INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
      ), series AS (
        SELECT CAST(sp.day - sp.d0 AS BIGINT) AS k,
               coalesce(c, 0) AS x
        FROM spine sp LEFT JOIN daily ON daily.day = sp.day
      ), panels AS (
        SELECT 'control' AS panel, k, x FROM series
        UNION ALL
        SELECT 'dosed', k,
               CASE WHEN (k // 7) % 2 = 0 THEN 2 * x ELSE x END
        FROM series
      ), tot AS (
        SELECT panel, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx
        FROM panels GROUP BY panel
      ), res AS (
        SELECT p.panel, t.n, p.k, n * x - sx AS r
        FROM panels p JOIN tot t ON p.panel = t.panel
      ), den AS (
        SELECT panel, sum(CAST(r AS HUGEINT) * CAST(r AS HUGEINT)) AS den
        FROM res GROUP BY panel
      ), lags AS (
        SELECT CAST(unnest([1, 2, 3, 4, 5, 6, 7]) AS BIGINT) AS lag
      ), nums AS (
        SELECT a.panel, a.n, lag,
               sum(CAST(a.r AS HUGEINT) * CAST(b.r AS HUGEINT)) AS num
        FROM res a CROSS JOIN lags
        JOIN res b ON b.panel = a.panel AND b.k = a.k + lag
        GROUP BY 1, 2, 3
      ), terms AS (
        SELECT nums.panel, n, lag,
               (CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE))
                 * (CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE))
                 / CAST(n - lag AS DOUBLE) AS term
        FROM nums JOIN den ON nums.panel = den.panel
      ), folded AS (
        SELECT panel, n,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(term ORDER BY lag)), (acc, x) -> acc + x) AS tsum
        FROM terms GROUP BY panel, n
      )
      SELECT panel, n AS n_days,
             CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * tsum AS q_lb,
             CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * tsum
               > 14.067140 AS reject_05
      FROM folded
      ORDER BY panel"""))

  /** q418: WALD–WOLFOWITZ RUNS TEST (Wald & Wolfowitz 1940) — the
    * randomness audit on the active-day revenue sequence: dichotomize
    * against the series median, count maximal same-sign runs, and ask
    * whether there are too FEW (clustering/regime structure) or too
    * MANY (alternation). The sequence-order complement of q413/q321's
    * rank tests (those ignore order entirely; the runs test IS order). Days
    * WITH ORDERS only — the densified spine's zero-gaps would read as
    * below-median runs and the audit would flag the calendar, not the
    * revenue. Median over integer cents is a half-integer (exact);
    * rows AT the median drop (the standard rule, and v = m needs m
    * integral — decided identically in both engines). Runs via the
    * value spectrum is impossible (order!), so adjacent sign pairs
    * come from LAG(1) over a panel-partitioned window in day order —
    * each partition is one panel's active days, calendar-bounded — and
    * R = 1 + Σ[sign_j ≠ sign_{j−1}]. (r10: this replaced a GlobalOrder
    * index + j+1 self-join + second aggregate — 38 jobs → 7 for the
    * same rows on a ≤2.4k-row frame.) z from the exact run-count
    * moments (2n₁n₂ ≤ 2·2400², doubles exact): E = 2n₁n₂/n + 1,
    * V = 2n₁n₂(2n₁n₂−n)/(n²(n−1)). Dosed/control: alternating 30-day
    * blocks ×2 on the ACTIVE-day index (swept: control |z| ≤ 1.71 <
    * 1.96 every SF, dosed z ≤ −3.51 — long runs, the clustering
    * side). Scale: the day rollup is calendar-bounded (~2.4k rows at
    * any corpus size) — the bare row_number window over it is the
    * audited bounded-frame pattern; everything after the first scan
    * is day-sized. */
  val q418 = Q(
    "q418_runs_test",
    (s, d) => {
      val daily = Tables.load(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("c"))
      // bare window over the calendar-bounded day rollup (≤ ~2.4k rows
      // at any corpus size — the audited bounded-frame pattern)
      val idx = daily.withColumn("i",
        row_number().over(Window.orderBy(col("day"))).cast(LongType))
      val panels = idx
        .select(lit("control").as("panel"), col("i"), col("c").as("v"))
        .unionByName(idx.select(lit("dosed").as("panel"), col("i"),
          when(expr("((i - 1) DIV 30) % 2 = 0"), col("c") * 2L)
            .otherwise(col("c")).as("v")))
        .persistTracked()
      val med = panels.groupBy(col("panel"))
        .agg(expr("percentile(v, 0.5D)").as("m"))
      val signs = panels.join(broadcast(med), Seq("panel"))
        .filter(col("v").cast(DoubleType) =!= col("m"))
        .select(col("panel"), col("i"),
          when(col("v").cast(DoubleType) > col("m"), 1L).otherwise(-1L)
            .as("sg"))
      // adjacent-pair sign changes via LAG over the panel-partitioned
      // day order (each partition calendar-bounded); one aggregate
      // yields n / n_above / run changes together
      val wp = Window.partitionBy(col("panel")).orderBy(col("i"))
      val flagged = signs.withColumn("sgp", lag(col("sg"), 1).over(wp))
      flagged.groupBy(col("panel"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("sg") === 1L, 1L).otherwise(0L)).as("n_above"),
          sum(when(col("sgp").isNotNull && col("sg") =!= col("sgp"), 1L)
            .otherwise(0L)).as("chg"))
        .withColumn("n_below", col("n") - col("n_above"))
        .withColumn("runs", col("chg") + 1L)
        .withColumn("p2", lit(2.0) * col("n_above").cast(DoubleType) *
          col("n_below").cast(DoubleType))
        .withColumn("z_stat",
          (col("runs").cast(DoubleType) -
            (col("p2") / col("n").cast(DoubleType) + 1.0)) /
            sqrt(col("p2") * (col("p2") - col("n").cast(DoubleType)) /
              (col("n").cast(DoubleType) * col("n").cast(DoubleType) *
                (col("n").cast(DoubleType) - 1.0))))
        .select(col("panel"), col("n"), col("n_above"), col("n_below"),
          col("runs"), col("z_stat"),
          (abs(col("z_stat")) > 1.959964).as("reject_05"))
        .orderBy(col("panel"))
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS c
        FROM orders GROUP BY 1
      ), idx AS (
        SELECT row_number() OVER (ORDER BY day) AS i, c FROM daily
      ), panels AS (
        SELECT 'control' AS panel, i, c AS v FROM idx
        UNION ALL
        SELECT 'dosed', i,
               CASE WHEN ((i - 1) // 30) % 2 = 0 THEN 2 * c ELSE c END
        FROM idx
      ), med AS (
        SELECT panel, quantile_cont(v, 0.5) AS m FROM panels GROUP BY 1
      ), signs AS (
        SELECT p.panel, i,
               CASE WHEN CAST(v AS DOUBLE) > m THEN 1 ELSE -1 END AS sg,
               row_number() OVER (PARTITION BY p.panel ORDER BY i) AS j
        FROM panels p JOIN med USING (panel)
        WHERE CAST(v AS DOUBLE) <> m
      ), changes AS (
        SELECT a.panel,
               CAST(sum(CASE WHEN a.sg <> b.sg THEN 1 ELSE 0 END)
                 AS BIGINT) AS chg
        FROM signs a JOIN signs b
          ON b.panel = a.panel AND b.j = a.j + 1
        GROUP BY a.panel
      ), counts AS (
        SELECT panel, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_above
        FROM signs GROUP BY panel
      ), zs AS (
        SELECT c2.panel, n, n_above, n - n_above AS n_below,
               chg + 1 AS runs,
               (CAST(chg + 1 AS DOUBLE)
                  - (2.0 * CAST(n_above AS DOUBLE)
                     * CAST(n - n_above AS DOUBLE) / CAST(n AS DOUBLE)
                     + 1.0))
               / sqrt(2.0 * CAST(n_above AS DOUBLE)
                   * CAST(n - n_above AS DOUBLE)
                   * (2.0 * CAST(n_above AS DOUBLE)
                      * CAST(n - n_above AS DOUBLE)
                      - CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * (CAST(n AS DOUBLE) - 1.0))) AS z_stat
        FROM counts c2 JOIN changes ch ON c2.panel = ch.panel
      )
      SELECT panel, n, n_above, n_below, runs, z_stat,
             abs(z_stat) > 1.959964 AS reject_05
      FROM zs
      ORDER BY panel"""))

  /** q427: K-TRUSS DECOMPOSITION (k = 4; Cohen 2008, "Trusses:
    * cohesive subgraphs for social network analysis") — the EDGE-side
    * sibling of q274's k-core: keep only edges participating in ≥ k−2
    * triangles among surviving edges, iterate. A k-truss is a strictly
    * stronger cohesion certificate than a k-core (every k-truss edge
    * lies in a (k−1)-core) — the community-mining pre-filter that
    * survives hub-spoke false positives q274 lets through. Graph = the
    * FULL part co-occurrence (n_ab ≥ 1 — the ≥2-support graph goes
    * triangle-poor past sf0.001: its 4-truss is EMPTY at sf0.01, swept
    * before shipping). Peeling runs EXACTLY 3 rounds in both engines
    * (q274's fixed-round discipline; `converged` certifies a true
    * fixpoint when round 3 peeled nothing), each round one EDGE-
    * ITERATOR support pass (Chiba–Nishizeki 1985 shape): per-edge
    * support = |N(a) ∩ N(b)| over the CURRENT survivor adjacency,
    * computed by two adjacency-array joins + one codegen'd
    * array_intersect per edge — the r8 verdict flagged this row at
    * 76.6 s from the wedge-join shape, which materialized ~35M wedge
    * rows per enumeration through a shuffle; this co-occurrence graph
    * is DENSE AND DEGREE-UNIFORM (20k parts, mean degree ~120, no
    * hubs), so degree-ordered orientation cannot shrink the wedge set
    * and the win is not materializing wedges at all (total intersect
    * work = Σ_e d(a)+d(b) = the wedge count, but as in-operator array
    * scans instead of shuffled rows). Readout: the histogram of
    * realized triangle supports (≥1, capped at 20) over the round-3
    * survivors — any divergence anywhere in the peel shows in these
    * counts — bounded to ≤21 rows at any scale. Scale: per-round work
    * is one edge-sized adjacency groupBy + edge-sized joins (auto-
    * broadcast while the adjacency is small, shuffle joins beyond);
    * per-vertex arrays are degree-bounded — for a hub-skewed graph the
    * q167 orientation cut applies first; localCheckpoint truncates
    * per-round lineage; a converged round 3 donates its filtered
    * support to the readout, skipping the 4th enumeration. */
  val q427 = Q(
    "q427_ktruss",
    (s, d) => {
      // r9: no up-front distinct — collect_set dedups per basket
      val op = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      // edge count observed during the checkpoint job (r10, §2.4)
      val (undirected, undirCnt) = graft.operators.Gates.checkpointCounted(
        op.groupBy(col("l_orderkey"))
          .agg(expr("sort_array(collect_set(l_partkey))").as("ps"))
          .select(explode(expr(
            """flatten(transform(ps, (x, i) ->
                 transform(slice(ps, i + 2, size(ps)),
                   y -> struct(x AS a, y AS b))))""")).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b")).distinct(),
        "q427")
      // EDGE-ITERATOR support: |N(a) ∩ N(b)| over the survivor
      // adjacency. r10 (guide §2.4): the adjacency is built from the
      // edge list ONCE — each later peel round maintains it
      // INCREMENTALLY by subtracting the round's DEAD edges from the
      // previous round's neighbor arrays (adjacency of the survivor
      // graph = previous adjacency minus dead neighbors, per vertex),
      // so the per-round 2|E|-row union+groupBy exchange the r9 shape
      // paid is replaced by a 2|D|-row groupBy over the dead edges
      // (|D| ≪ |E| after round 1) joined back onto the cached
      // vertex-sized adjacency. The a-side arrays ride the adjacency
      // explode (a < b reproduces the survivor edge set exactly), and
      // the per-edge count is a codegen'd two-pointer merge over the
      // sorted arrays (r10 — no per-edge hash set, no materialized
      // intersection).
      //
      // The ~40 MB nb side is broadcast under an EXPLICIT measured
      // gate: bytes are modeled from the exactly-known element count
      // (2|E| ids × 16 B unsafe-array slot + per-row overhead) against
      // the shared iteration-broadcast ceiling (Gates, 128 MB —
      // guide §3.1: "a few hundred MB is usually fine"). Beyond the
      // gate the join falls back to the shuffled shape unchanged — the
      // same discipline as Components' materialized-count gate,
      // replacing r9's optimizer-estimate gate, which under a
      // cached-join input would mis-estimate in BOTH directions.
      def support(adj: DataFrame, nEdges: Long, nVerts: Long): DataFrame = {
        // 2|E| × 16 B + |V| × 32 B = (|E| + |V|) × 32 B
        val nb = graft.operators.Gates.bcastIfUnder(
          adj.select(col("v").as("b"), col("nbrs").as("nb")),
          nEdges + nVerts, 32L)
        adj.select(col("v").as("a"), col("nbrs").as("na"),
            explode(col("nbrs")).as("b"))
          .filter(col("a") < col("b"))
          .join(nb, Seq("b"))
          .select(col("a"), col("b"),
            graft.functions.IntersectSize.sorted(col("na"), col("nb"))
              .cast(LongType).as("supp"))
      }
      var adj = undirected
        .select(col("a").as("v"), col("b").as("w"))
        .unionAll(undirected.select(col("b").as("v"), col("a").as("w")))
        .groupBy(col("v"))
        .agg(expr("sort_array(collect_list(w))").as("nbrs"))
        .persistTracked()
      var nVerts = adj.count() // materializes the cache; vertex-sized job
      var counts = List(undirCnt)
      var lastSup: DataFrame = undirected // placeholder, reassigned round 1
      var prevAdj: DataFrame = null
      for (round <- 1 to 3) {
        // one checkpoint per round: survivors, dead edges and (when
        // converged) the final readout all read this frame
        // survivor count observed during the support checkpoint job
        // (r10, §2.4) — no per-round filtered-count job
        val obsS = new org.apache.spark.sql.Observation(s"q427_s$round")
        val sup = support(adj, counts.head, nVerts)
          .observe(obsS,
            sum(when(col("supp") >= 2L, 1L).otherwise(0L)).as("n"))
          .checkpointTracked()
        // the previous round's adjacency cache is dead once the new
        // round's support has materialized (ADVICE r9: the per-round
        // persists otherwise accrete until query end)
        if (prevAdj != null) graft.Caches.free(prevAdj)
        lastSup = sup.filter(col("supp") >= 2L)
        val newCnt =
          obsS.get("n") match { case n: Long => n; case _ => 0L }
        val deadCnt = counts.head - newCnt
        counts = newCnt :: counts
        // dead-edge neighbor deltas: vertex-keyed arrays over 2|D| rows;
        // broadcast under the same measured gate (|D| is exactly known)
        val dead = sup.filter(col("supp") < 2L)
        val deadN0 = dead.select(col("a").as("v"), col("b").as("w"))
          .unionAll(dead.select(col("b").as("v"), col("a").as("w")))
          .groupBy(col("v"))
          .agg(expr("sort_array(collect_list(w))").as("dw"))
        val deadN = graft.operators.Gates.bcastIfUnder(deadN0, 2 * deadCnt, 16L)
        // adjacency of the survivor graph: previous arrays minus dead
        // neighbors (array_except keeps first-array order ⇒ stays
        // sorted); vertices with no surviving edge drop out, so the
        // a<b explode of the result is EXACTLY the survivor edge set
        prevAdj = adj
        adj = adj.join(deadN, Seq("v"), "left")
          .select(col("v"),
            when(col("dw").isNull, col("nbrs"))
              .otherwise(array_except(col("nbrs"), col("dw"))).as("nbrs"))
          .filter(size(col("nbrs")) > 0)
          .persistTracked()
        nVerts = math.min(nVerts, 2 * newCnt)
      }
      // converged ⟺ round 3 peeled nothing ⟺ the survivor set equals
      // round 2's, so round 3's filtered support (computed on that very
      // set) is exactly the final readout — no 4th enumeration
      val converged = counts.head == counts.tail.head
      val finalSup =
        if (converged) lastSup
        else support(adj, counts.head, nVerts).filter(col("supp") >= 1L)
      finalSup
        .select(least(col("supp"), lit(20L)).as("support_c"))
        .groupBy(col("support_c")).agg(count(lit(1)).as("n_edges"))
        .withColumn("converged", lit(converged))
        .orderBy(col("support_c"))
    },
    Some {
      // each peel: triangles of the surviving set (a<b<c, closing-edge
      // EXISTS), explode to member edges, keep support >= k-2 = 2
      def peel(prev: String, out: String): String =
        s""", ${out}_tri AS MATERIALIZED (
        SELECT x.a, x.b, y.b AS c
        FROM $prev x JOIN $prev y ON x.b = y.a
        WHERE EXISTS (SELECT 1 FROM $prev z
                      WHERE z.a = x.a AND z.b = y.b)
      ), $out AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT a, b FROM ${out}_tri
          UNION ALL SELECT b AS a, c AS b FROM ${out}_tri
          UNION ALL SELECT a, c AS b FROM ${out}_tri
        ) GROUP BY a, b HAVING count(*) >= 2
      )"""
      s"""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      ), s0 AS MATERIALIZED (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM op x JOIN op y ON x.l_orderkey = y.l_orderkey
          AND x.l_partkey < y.l_partkey
      )${peel("s0", "s1")}${peel("s1", "s2")}${peel("s2", "s3")}
      , final_supp AS MATERIALIZED (
        SELECT x.a, x.b, y.b AS c
        FROM s3 x JOIN s3 y ON x.b = y.a
        WHERE EXISTS (SELECT 1 FROM s3 z
                      WHERE z.a = x.a AND z.b = y.b)
      ), hist AS (
        SELECT least(supp, 20) AS support_c, count(*) AS n_edges
        FROM (
          SELECT a, b, CAST(count(*) AS BIGINT) AS supp FROM (
            SELECT a, b FROM final_supp
            UNION ALL SELECT b AS a, c AS b FROM final_supp
            UNION ALL SELECT a, c AS b FROM final_supp
          ) GROUP BY a, b
        ) GROUP BY 1
      )
      SELECT support_c, CAST(n_edges AS BIGINT) AS n_edges,
             (SELECT count(*) FROM s3) = (SELECT count(*) FROM s2)
               AS converged
      FROM hist
      ORDER BY support_c"""
    })

  /** q430: PALMA RATIO / TAIL-SHARE CONCENTRATION (Palma 2011;
    * Cobham–Sumner 2013) — the tail-focused inequality readout beside
    * q333's Gini: share of customer revenue held by the top 10% of
    * customers over the share held by the bottom 40% (Gini compresses
    * the whole Lorenz curve to one number; Palma reads exactly the
    * tails that concentration changes move). Customers ranked by
    * (revenue, custkey) — a TOTAL order — via GlobalOrder's
    * range-partitioned rank (cumsum of 1), boundaries at floor(0.4·n)
    * and floor(0.9·n) BY COUNT; the group revenue sums are exact
    * BIGINTs and each share/ratio is one IEEE division. Dosed panel:
    * a 1/16 md5-selected customer set ×10 (swept: control Palma ≈
    * 0.65 at every SF — TPC-H customer revenue is near-uniform, the
    * honest baseline — dosed ≥ 2.55 with the top-10% share more than
    * doubling). Scale: one scan to the customer rollup, one range
    * shuffle for the rank; everything after is 2 rows. */
  val q430 = Q(
    "q430_palma_ratio",
    (s, d) => {
      val rev = Tables.load(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(Det.cents(col("o_totalprice"))).as("r"))
      val panels = rev
        .select(lit("control").as("panel"), col("ck"), col("r"))
        .unionByName(rev.select(lit("dosed").as("panel"), col("ck"),
          when(expr("instr('0123456789abcdef', " +
            "substring(md5(CAST(ck AS STRING)), 32, 1)) = 1"),
            col("r") * 10L).otherwise(col("r")).as("r")))
      val ranked = graft.operators.GlobalOrder
        .withOrderedCumsum(panels,
          Seq(col("panel"), col("r"), col("ck")), lit(1L), "rank")
      val nCtl = panels.filter(col("panel") === "control")
        .groupBy().agg(count(lit(1)).as("n_cust"))
      ranked.crossJoin(broadcast(nCtl))
        .withColumn("prank",
          col("rank") -
            when(col("panel") === "dosed", col("n_cust")).otherwise(0L))
        .groupBy(col("panel"), col("n_cust"))
        .agg(
          sum(col("r")).as("total"),
          sum(when(col("prank") <= expr("CAST(n_cust * 2 DIV 5 AS BIGINT)"),
            col("r")).otherwise(0L)).as("bot40"),
          sum(when(col("prank") > expr("CAST(n_cust * 9 DIV 10 AS BIGINT)"),
            col("r")).otherwise(0L)).as("top10"))
        .select(col("panel"), col("n_cust"),
          (col("top10").cast(DoubleType) / col("total").cast(DoubleType))
            .as("top10_share"),
          (col("bot40").cast(DoubleType) / col("total").cast(DoubleType))
            .as("bot40_share"),
          (col("top10").cast(DoubleType) / col("bot40").cast(DoubleType))
            .as("palma"))
        .orderBy(col("panel"))
    },
    Some(s"""
      WITH rev AS (
        SELECT o_custkey AS ck,
               CAST(sum(${Det.centsSql("o_totalprice")}) AS BIGINT) AS r
        FROM orders GROUP BY 1
      ), panels AS (
        SELECT 'control' AS panel, ck, r FROM rev
        UNION ALL
        SELECT 'dosed', ck,
               CASE WHEN strpos('0123456789abcdef',
                      substr(md5(CAST(ck AS VARCHAR)), 32, 1)) = 1
                    THEN r * 10 ELSE r END
        FROM rev
      ), ranked AS (
        SELECT panel, r,
               row_number() OVER (PARTITION BY panel ORDER BY r, ck)
                 AS prank
        FROM panels
      ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cust FROM rev
      ), agg AS (
        SELECT panel, n_cust,
               CAST(sum(r) AS BIGINT) AS total,
               CAST(sum(CASE WHEN prank <= n_cust * 2 // 5 THEN r
                 ELSE 0 END) AS BIGINT) AS bot40,
               CAST(sum(CASE WHEN prank > n_cust * 9 // 10 THEN r
                 ELSE 0 END) AS BIGINT) AS top10
        FROM ranked CROSS JOIN nn
        GROUP BY 1, 2
      )
      SELECT panel, n_cust,
             CAST(top10 AS DOUBLE) / CAST(total AS DOUBLE)
               AS top10_share,
             CAST(bot40 AS DOUBLE) / CAST(total AS DOUBLE)
               AS bot40_share,
             CAST(top10 AS DOUBLE) / CAST(bot40 AS DOUBLE) AS palma
      FROM agg
      ORDER BY panel"""))

  /** q433: COHORT RETENTION MATRIX — the signup-cohort × months-since
    * activity grid every product-analytics stack publishes (and the
    * time-sliced complement of q181's RFM and q145's idle-customer
    * list): cohort = a customer's FIRST order month, retention(k) =
    * the share of the cohort placing an order k months later. Exact:
    * distinct (cohort, k, customer) activity — a customer with three
    * orders in one month counts once — over calendar-BOUNDED grain
    * (≤80 cohorts × 12 offsets regardless of corpus size); rate is
    * one IEEE division of exact counts. k capped at 11 (first-year
    * retention — the reporting convention, and the row bound).
    * Month-0 retention is 1 BY CONSTRUCTION (the cohort definition),
    * spec-asserted as the self-check. Scale: one scan to the
    * (customer, month) distinct rollup, a broadcast-sized first-order
    * join, then metadata-sized aggregation. */
  val q433 = Q(
    "q433_cohort_retention",
    (s, d) => {
      val cm = Tables.load(s, d, "orders")
        .select(col("o_custkey").as("ck"),
          date_trunc("month", col("o_orderdate")).as("m"))
        .distinct()
        .persistTracked()
      val first = cm.groupBy(col("ck")).agg(min(col("m")).as("cohort"))
      val sizes = first.groupBy(col("cohort"))
        .agg(count(lit(1)).as("cohort_size"))
      cm.join(first, Seq("ck"))
        .select(col("cohort"),
          (months_between(col("m"), col("cohort"))).cast(LongType)
            .as("k"))
        .filter(col("k") >= 0L && col("k") <= 11L)
        .groupBy(col("cohort"), col("k"))
        .agg(count(lit(1)).as("active"))
        .join(sizes, Seq("cohort"))
        .select(col("cohort"), col("k"), col("active"),
          col("cohort_size"),
          (col("active").cast(DoubleType) /
            col("cohort_size").cast(DoubleType)).as("retention"))
        .orderBy(col("cohort"), col("k"))
    },
    Some("""
      WITH cm AS (
        SELECT DISTINCT o_custkey AS ck,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m
        FROM orders
      ), first AS (
        SELECT ck, min(m) AS cohort FROM cm GROUP BY 1
      ), sizes AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
        FROM first GROUP BY 1
      ), act AS (
        SELECT f.cohort, datediff('month', f.cohort, cm.m) AS k
        FROM cm JOIN first f USING (ck)
      )
      SELECT a.cohort, CAST(k AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS active, s.cohort_size,
             CAST(count(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
               AS retention
      FROM act a JOIN sizes s ON a.cohort = s.cohort
      WHERE k BETWEEN 0 AND 11
      GROUP BY 1, 2, s.cohort_size
      ORDER BY 1, 2"""))

  /** q434: RUNTIME BLOOM-FILTER JOIN PRUNING as a registered, plan-
    * pinned query (r8 verdict item #5's demonstration half — the
    * PlanShapeSpec mechanism pin landed in r6): a fact⋈fact shuffle
    * join (broadcast disabled) where one side carries a selective
    * predicate Catalyst cannot push to the other side statically — the
    * regime DPP covers only when the key is a partition column. With
    * `spark.sql.optimizer.runtime.bloomFilter.enabled`, the optimizer
    * plans a `bloom_filter_agg` over the filtered side's join keys and
    * injects `might_contain` into the probe side's scan filters, so
    * the 100 TB fact scan discards non-joining rows BEFORE the
    * shuffle — the row-level sibling of partition pruning, and the
    * difference between shuffling 100 TB and shuffling the ~1/5 that
    * survives. Conf overrides live in an ISOLATED `newSession` (same
    * SparkContext, private SQLConf): Verify executes queries
    * concurrently on the shared session, so a session-wide
    * set/restore would race other queries' planning. The committed
    * plan artifact (plans/q434…plan.txt) exhibits the injected
    * filter; the oracle is the plain join semantics — pruning must
    * never change results. Thresholds at 100 TB: creationSideThreshold
    * (max build size, default 10 MB) and
    * applicationSideScanSizeThreshold (min probe size, default 10 GB
    * — lowered here to fixture scale). */
  val q434 = Q(
    "q434_bloom_prune_join",
    (s, d) => {
      val s2 = s.newSession()
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // force the shuffle-join regime a fact⋈fact join lives in (a
      // broadcast join ships the dim everywhere — nothing to prune)
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "1")
      val li = Tables.load(s2, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_quantity"))
      val urgent = Tables.load(s2, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      li.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(Det.cents(col("l_extendedprice"))).as("revenue_cents"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"))
        .orderBy(col("o_year"))
    },
    Some("""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             count(*) AS n_lines,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS revenue_cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY 1 ORDER BY 1"""))

  /** q435: PIVOT-SAMPLED BETWEENNESS CENTRALITY (Brandes 2001, "A
    * Faster Algorithm for Betweenness Centrality"; pivot sampling per
    * Brandes & Pich 2007, "Centrality Estimation in Large Networks")
    * — the shortest-path centrality capstone beside the degree
    * (q144), harmonic (q369), eigenvector (q204 PageRank), and
    * local-clustering (q278) families: how often a part lies ON the
    * shortest co-purchase paths between other parts, the classic
    * broker/bottleneck score. Exact Brandes is one SSSP per vertex —
    * O(nm), unpayable at scale — so the estimator runs Brandes'
    * dependency accumulation from a FIXED 8-pivot sample (md5-ordered
    * vertex ids: deterministic, hash-uniform — the q430 selection
    * discipline), horizon-truncated at 3 hops (the q192/q369 bounded-
    * depth discipline; HyperBall's argument: co-purchase diameters
    * are tiny, and a bounded horizon is what any 100 TB graph pass
    * ships). Forward = multi-source BFS carrying EXACT BIGINT
    * shortest-path counts σ (per round: frontier⋈adjacency, visited
    * anti-join, σ summed over arrivals — the counting extension of
    * q192's frontier loop); backward = Brandes' accumulation
    * δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) over successors one level down,
    * run levels 3→1. Every δ sum and the final per-vertex pivot sum
    * fold in EXPLICIT sorted order (sort_array + aggregate vs DuckDB
    * list(… ORDER BY)+list_reduce — the q61/q118 agreed-fold rule),
    * so the doubles are bit-identical cross-engine. The ORACLE
    * replays the same pivot set through unrolled per-level CTEs
    * (MATERIALIZED — the q274 inlining lesson) with NOT EXISTS
    * visited checks — recursion-free SQL vs iterative DataFrames, the
    * strongest differential for iterative graph code. Scale: 8
    * pivots × 3 rounds of edge-sized joins; σ/δ state is one row per
    * (pivot, vertex); the backward pass's collect_list groups are
    * degree-bounded; more pivots = embarrassingly parallel. */
  val q435 = Q(
    "q435_betweenness",
    (s, d) => {
      val adj = copurchaseAdj(s, d)
      val pivots = adj.select(col("src").as("v")).distinct()
        .orderBy(md5(col("v").cast(StringType)), col("v")).limit(8)
        .select(col("v").as("p")).checkpointTracked()
      // forward: levels l0..l3, each (p, v, sigma) with sigma = #
      // shortest p→v paths; levels are disjoint per pivot (anti-join)
      // per-pivot level frames are node-sized: broadcast into the
      // cached edge scan under the measured-count gate (r10, the q192
      // rationale); visited rows = Σ level counts, tracked exactly —
      // every count observed during its own checkpoint job (r10, §2.4)
      val (l0, l0Cnt) = graft.operators.Gates.checkpointCounted(
        pivots.select(col("p"), col("p").as("v"), lit(1L).as("sigma")),
        "q435")
      var lvls = List(l0)
      var lvlCnts = List(l0Cnt)
      import graft.operators.Gates.bcastIfUnder
      for (_ <- 1 to 3) {
        val visited = lvls.map(_.select(col("p"), col("v")))
          .reduce(_ unionAll _)
        val (nxt, nxtCnt) = graft.operators.Gates.checkpointCounted(
          bcastIfUnder(lvls.head, lvlCnts.head)
            .join(adj, col("v") === col("src"))
            .groupBy(col("p"), col("dst"))
            .agg(sum(col("sigma")).as("sigma"))
            .select(col("p"), col("dst").as("v"), col("sigma"))
            .join(bcastIfUnder(visited, lvlCnts.sum),
              Seq("p", "v"), "left_anti"),
          "q435")
        lvls = nxt :: lvls
        lvlCnts = nxtCnt :: lvlCnts
      }
      val List(l3, l2, l1, _) = lvls
      val List(c3, c2, c1, _) = lvlCnts
      // backward: δ over successors exactly one level deeper, summed
      // in sorted-w order (agreed fold — q61/q118 discipline)
      def deltaStep(cur: DataFrame, curCnt: Long, next: DataFrame,
          nextCnt: Long, nextDelta: DataFrame): DataFrame = {
        val nd = next.join(nextDelta, Seq("p", "v"), "left")
          .select(col("p").as("np"), col("v").as("w"),
            col("sigma").as("sw"),
            coalesce(col("delta"), lit(0.0)).as("dw"))
        bcastIfUnder(cur, curCnt)
          .join(adj, col("v") === col("src"))
          .join(bcastIfUnder(nd, nextCnt),
            col("p") === col("np") && col("dst") === col("w"))
          .withColumn("term",
            col("sigma").cast(DoubleType) / col("sw").cast(DoubleType)
              * (lit(1.0) + col("dw")))
          .groupBy(col("p"), col("v"))
          .agg(expr("aggregate(transform(sort_array(" +
            "collect_list(struct(w, term))), x -> x.term), " +
            "CAST(0 AS DOUBLE), (acc, t) -> acc + t)").as("delta"))
      }
      val d3 = l3.select(col("p"), col("v"), lit(0.0).as("delta"))
      val d2 = deltaStep(l2, c2, l3, c3, d3).checkpointTracked()
      val d1 = deltaStep(l1, c1, l2, c2, d2).checkpointTracked()
      val reached = Seq(l1, l2, l3)
        .map(_.select(col("p"), col("v"))).reduce(_ unionAll _)
      val deltas = d1.unionAll(d2)
      reached.join(deltas, Seq("p", "v"), "left")
        .select(col("p"), col("v"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .groupBy(col("v"))
        .agg(
          count(lit(1)).as("n_pivots"),
          expr("aggregate(transform(sort_array(" +
            "collect_list(struct(p, delta))), x -> x.delta), " +
            "CAST(0 AS DOUBLE), (acc, t) -> acc + t)").as("bc"))
        .select(col("v").as("part_key"), col("n_pivots"), col("bc"))
        .orderBy(col("part_key"))
    },
    Some(s"""
      WITH $copurchaseAdjSql, pivots AS MATERIALIZED (
        SELECT v AS p FROM (SELECT DISTINCT src AS v FROM adj) x
        ORDER BY md5(CAST(v AS VARCHAR)), v LIMIT 8
      ), l0 AS MATERIALIZED (
        SELECT p, p AS v, CAST(1 AS BIGINT) AS sigma FROM pivots
      ), l1 AS MATERIALIZED (
        SELECT s.p, a.dst AS v, CAST(sum(s.sigma) AS BIGINT) AS sigma
        FROM l0 s JOIN adj a ON a.src = s.v
        WHERE NOT EXISTS (SELECT 1 FROM l0 z
                          WHERE z.p = s.p AND z.v = a.dst)
        GROUP BY 1, 2
      ), l2 AS MATERIALIZED (
        SELECT s.p, a.dst AS v, CAST(sum(s.sigma) AS BIGINT) AS sigma
        FROM l1 s JOIN adj a ON a.src = s.v
        WHERE NOT EXISTS (SELECT 1 FROM l0 z
                          WHERE z.p = s.p AND z.v = a.dst)
          AND NOT EXISTS (SELECT 1 FROM l1 z
                          WHERE z.p = s.p AND z.v = a.dst)
        GROUP BY 1, 2
      ), l3 AS MATERIALIZED (
        SELECT s.p, a.dst AS v, CAST(sum(s.sigma) AS BIGINT) AS sigma
        FROM l2 s JOIN adj a ON a.src = s.v
        WHERE NOT EXISTS (SELECT 1 FROM l0 z
                          WHERE z.p = s.p AND z.v = a.dst)
          AND NOT EXISTS (SELECT 1 FROM l1 z
                          WHERE z.p = s.p AND z.v = a.dst)
          AND NOT EXISTS (SELECT 1 FROM l2 z
                          WHERE z.p = s.p AND z.v = a.dst)
        GROUP BY 1, 2
      ), d2 AS MATERIALIZED (
        SELECT c.p, c.v,
               list_reduce(list(
                 (CAST(c.sigma AS DOUBLE) / CAST(n.sigma AS DOUBLE))
                   * (1.0 + 0.0) ORDER BY n.v),
                 (acc, t) -> acc + t) AS delta
        FROM l2 c JOIN adj a ON a.src = c.v
        JOIN l3 n ON n.p = c.p AND n.v = a.dst
        GROUP BY c.p, c.v
      ), d1 AS MATERIALIZED (
        SELECT c.p, c.v,
               list_reduce(list(
                 (CAST(c.sigma AS DOUBLE) / CAST(n.sigma AS DOUBLE))
                   * (1.0 + coalesce(dd.delta, 0.0)) ORDER BY n.v),
                 (acc, t) -> acc + t) AS delta
        FROM l1 c JOIN adj a ON a.src = c.v
        JOIN l2 n ON n.p = c.p AND n.v = a.dst
        LEFT JOIN d2 dd ON dd.p = n.p AND dd.v = n.v
        GROUP BY c.p, c.v
      ), reached AS MATERIALIZED (
        SELECT p, v FROM l1
        UNION ALL SELECT p, v FROM l2
        UNION ALL SELECT p, v FROM l3
      ), deltas AS MATERIALIZED (
        SELECT p, v, delta FROM d1 UNION ALL SELECT p, v, delta FROM d2
      )
      SELECT r.v AS part_key, CAST(count(*) AS BIGINT) AS n_pivots,
             list_reduce(list(coalesce(dl.delta, 0.0) ORDER BY r.p),
               (acc, t) -> acc + t) AS bc
      FROM reached r
      LEFT JOIN deltas dl ON dl.p = r.p AND dl.v = r.v
      GROUP BY r.v
      ORDER BY part_key"""))

  val all: Seq[Q] =
    Seq(q49, q50, q51, q52, q55, q80, q81, q100, q101, q102, q103, q105,
      q113, q131, q133, q139, q141, q142, q144, q145, q146, q147, q151,
      q158, q161, q163, q167, q168, q169, q170, q172, q173, q174,
      q177, q178, q179, q180, q181, q183, q186, q188, q192, q193, q194,
      q195, q197, q204, q206, q207, q208, q209,
      q221, q222, q223, q224, q225, q226, q227, q268, q273, q274, q277,
      q278, q279, q280, q281, q283, q294, q295, q296, q309, q321, q322,
      q333, q337, q348, q351, q361, q369, q370, q384, q399, q400,
      q407, q409, q410, q415, q417, q418, q427, q430, q433, q434, q435)
}
