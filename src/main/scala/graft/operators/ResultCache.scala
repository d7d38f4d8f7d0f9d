package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.{Det, Q}

/** Transparent QUERY-RESULT CACHE — the warehouse-engine feature
  * (Snowflake result cache / BigQuery cached results shape) that serves a
  * repeated query from its previous answer instead of recomputing, while
  * staying invisible to correctness: the cache key is content-addressed by
  *
  *   md5( canonicalized analyzed logical plan  +  input content stamp )
  *
  * so a hit requires BOTH the same question (Catalyst's canonicalization
  * normalizes expression IDs and aliasing, so two separately-built but
  * structurally identical DataFrames share a key) and the same data (the
  * filesystem stamp of the scanned table — XOR of mtime^length over its
  * files, the `Olap.lastFullYear` invalidation discipline; metadata-only,
  * because a cache that must SCAN the input to decide whether to skip the
  * scan has no fast path). Entries are parquet dirs committed by the
  * writer's own `_SUCCESS` marker: a torn write leaves no marker and the
  * next call recomputes — the same crash contract every store in this repo
  * carries (`sources/tsv/TsvSource.scala`).
  *
  * At 100 TB the value is the hit path: dashboards and retried stages
  * re-ask identical questions constantly; a hit costs one manifest-sized
  * read instead of a full scan+shuffle, and the stamp guarantees a stale
  * answer is structurally impossible — content changes move the key.
  */
object ResultCache {

  /** Metadata-only content stamp of a table directory (no data read).
    * Delegates to the shared [[graft.FsStamp]] — one stamp algebra for
    * every cache/memo in the repo (the r7 review closed an XOR-self-
    * cancellation hole there; sharing keeps it closed everywhere). */
  def fsStamp(tablePath: String): Long = graft.FsStamp.of(tablePath)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The cache key: same canonical plan + same input content ⇒ same key. */
  def key(df: DataFrame, inputStamp: Long): String =
    md5hex(
      df.queryExecution.analyzed.canonicalized.toString + "\n" + inputStamp)

  def cacheDir(k: String): java.nio.file.Path =
    Paths.get(sys.props("java.io.tmpdir"), "graft_rescache", k)

  /** Serve `df`'s result through the cache: compute-and-commit on miss,
    * read-only on hit. The caller supplies the content stamp of the
    * query's input table(s). */
  def cached(s: SparkSession, df: DataFrame, inputStamp: Long): DataFrame = {
    val dir = cacheDir(key(df, inputStamp))
    Files.createDirectories(dir.getParent)
    // per-entry build lock: two concurrent misses for one key would
    // otherwise interleave overwrite jobs into the same dir and commit
    // a doubled entry under a valid _SUCCESS (r7 review finding — the
    // same check-then-build race IngestJob.withStoreLock closes for
    // the snapshot stores)
    graft.sources.IngestJob.withStoreLock(dir.toString) {
      if (!Files.exists(dir.resolve("_SUCCESS")))
        df.write.mode("overwrite").parquet(dir.toString)
    }
    Tables.parquet(s, dir.toString)
  }

  /** q250: the cache driven end to end over a representative rollup
    * (monthly revenue off lineitem). The oracle recomputes the rollup
    * directly — a pass proves the cache TRANSPARENT: whatever path
    * (compute or hit) produced the parquet, the served values are the
    * query's values. The spec pins the operational claims the oracle
    * can't see: a second call leaves the entry untouched and its plan
    * scans the cache dir (not lineitem); touching the input moves the
    * key; identical twice-built plans share a key; a filter variant
    * does not. Ordering is applied AFTER the cache read so the stored
    * entry stays order-free (parquet has no row order contract). */
  val q250 = Q(
    "q250_result_cache",
    (s, d) => {
      val rollup = Tables.load(s, d, "lineitem")
        .groupBy(
          year(col("l_shipdate")).as("yr"),
          month(col("l_shipdate")).as("mo"))
        .agg(
          count(lit(1)).as("n"),
          Det.dsum(col("l_extendedprice")).as("revenue"))
      cached(s, rollup, fsStamp(Tables.path(d, "lineitem")))
        .orderBy(col("yr"), col("mo"))
    },
    Some(s"""
      SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
             CAST(month(l_shipdate) AS INTEGER) AS mo,
             count(*) AS n,
             ${Det.dsumSql("l_extendedprice")} AS revenue
      FROM lineitem
      GROUP BY 1, 2
      ORDER BY yr, mo"""))

  val all: Seq[Q] = Seq(q250)
}
