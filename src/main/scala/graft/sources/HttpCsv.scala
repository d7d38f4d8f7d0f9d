package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.operators.Gates

/** HTTP CSV ingestion — the transport the reference actually uses for S1
  * (it streams the public CSV from a URL into the engine, reference:
  * README.md:176-199) rather than reading a local file.
  *
  * Shape: fetching is a side-effecting download stage that STAGES bytes
  * onto storage Spark can scan, then the typed CSV read is an ordinary
  * `spark.read.schema(...).csv(stagingDir)` — schema application, error
  * tolerance, pushdown and pruning all come from the standard reader,
  * exactly like the local-file leg. The download stage distributes as a
  * per-partition task over the URL list (each executor fetches its
  * shard), which is the scale path for a crawl manifest of millions of
  * URLs; it assumes the staging dir is storage all executors share (any
  * real cluster's object store; plain tmp on local[n]).
  */
object HttpCsv {

  /** Stream one URL to a file — constant memory, no whole-body buffering
    * (a multi-GB CSV must never materialize on-heap). */
  def fetchToFile(url: String, dest: java.nio.file.Path): Unit = {
    val conn = java.net.URI.create(url).toURL.openConnection()
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    val in = conn.getInputStream
    try {
      Files.createDirectories(dest.getParent)
      Files.copy(in, dest, StandardCopyOption.REPLACE_EXISTING)
    } finally in.close()
  }

  /** Deterministic staged filename per URL (md5 — collision-free for any
    * real manifest, stable across retries). */
  private def stagedName(url: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(url.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString + ".csv"
  }

  /** Distributed fetch of `urls` into `stagingDir`, then a typed CSV read
    * with `schema` in DROPMALFORMED mode (the reference's
    * error-tolerance analog). The fetch fans out over executors via a
    * small RDD of URLs — per-partition imperative I/O is the one place
    * RDDs are the right tool; everything downstream is DataFrame. */
  def ingestCsvUrls(
      spark: SparkSession,
      urls: Seq[String],
      schema: StructType,
      stagingDir: String,
      header: Boolean = true): DataFrame = {
    val dir = Paths.get(stagingDir)
    Files.createDirectories(dir)
    val slices = math.max(1, math.min(urls.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext
      .parallelize(urls, slices)
      .foreach(u => fetchToFile(u, Paths.get(stagingDir, stagedName(u))))
    spark.read
      .schema(schema)
      .option("header", header)
      .option("mode", "DROPMALFORMED")
      .csv(stagingDir)
  }

  /** Bounded error tolerance — the reference's
    * `input_format_allow_errors_num` semantics (reference:
    * README.md:185-194): up to `maxErrors` malformed rows are DROPPED
    * and counted; one more FAILS the load. DROPMALFORMED alone cannot
    * express the "fail beyond N" contract — it silently drops any
    * number. PERMISSIVE + corrupt-record column makes the bad rows
    * first-class: countable, cappable, and quarantinable. One job parses
    * the CSV: an observation on the raw read counts the malformed rows
    * while the same pass drops them and checkpoints the clean rows
    * ([[Gates.checkpointCounted]]), which the caller's write then reads.
    * The observed frame keeps every data column, so every typed column
    * is parsed and checked. The checkpoint is ledgered; the caller frees
    * it with `Caches.release()`, also after a throw over the cap. */
  def readCsvTolerant(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      maxErrors: Long,
      header: Boolean = true): (DataFrame, Long) = {
    val corrupt = "_corrupt_record"
    val withCorrupt = StructType(
      schema.fields :+ StructField(corrupt, StringType))
    val raw = spark.read
      .schema(withCorrupt)
      .option("header", header)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .csv(dir)
    val (clean, bad) = Gates.checkpointCounted(raw, "csv_malformed",
      where = col(corrupt).isNotNull,
      shape = _.filter(col(corrupt).isNull).drop(corrupt))
    if (bad > maxErrors)
      throw new IllegalStateException(
        s"CSV load: $bad malformed rows exceed the error tolerance " +
          s"$maxErrors (reference input_format_allow_errors_num contract)")
    (clean, bad)
  }
}
