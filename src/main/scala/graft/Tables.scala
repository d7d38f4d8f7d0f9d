package graft

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Fixture-table loaders.
  *
  * The reference declares fixed, explicit schemas per engine
  * (reference: clickhouse-init/01-create-table.sql:53-73, init.sql:27-70);
  * our tables are driver-generated Parquet (TESTDATA.md) whose footer schema
  * IS the declared schema. Loads go through [[parquet]]: the footer
  * schema is inferred once per session and table content ([[FsStamp]]),
  * then handed back with `.schema(...)`, so a repeated load runs no
  * schema-inference job while the file listing stays fresh on every
  * call. Catalyst still gets column pruning + filter pushdown +
  * vectorized scan for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, table: String): String = s"$sfDir/$table.parquet"

  /** session → (path → (content stamp, inferred schema)); one entry per
    * path, replaced when the stamp moves, so a rewrite re-infers and the
    * memo never grows past the set of paths read */
  private val schemas = Collections.synchronizedMap(
    new WeakHashMap[SparkSession,
      ConcurrentHashMap[String, (Long, StructType)]]())

  /** `spark.read.parquet(path)` without the per-call schema-inference job.
    * The stamp is taken BEFORE inferring, so a rewrite racing the
    * inference can only pair a newer schema with an older stamp, which
    * the next call's stamp no longer matches. Paths that are not local
    * directories or files (no stamp to key on) are read as before. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    if (!new java.io.File(path).exists()) spark.read.parquet(path)
    else {
      val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
      val stamp = FsStamp.of(path)
      Option(memo.get(path)) match {
        case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          memo.put(path, (stamp, df.schema))
          df
      }
    }

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val df = parquet(spark, path(sfDir, table))
    // events.ts normalizes to microsecond TimestampType whatever the fixture
    // generation wrote: TIMESTAMP(NANOS) parquet reads back as Long under
    // spark.sql.legacy.parquet.nanosAsLong (truncate to micros — same as
    // DuckDB's TIMESTAMP_NS → TIMESTAMP cast); plain timestamp[us] with
    // isAdjustedToUTC=false reads back as TIMESTAMP_NTZ (cast is an exact
    // relabel under the UTC session timezone both engines pin).
    df.schema.fields.find(f => table == "events" && f.name == "ts")
      .map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Session config every entry point must apply ([[Sessions.local]]). */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // engine extensions: native functions (vec_dot) for SQL entry points
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // managed (bucketed) tables land in tmp, never in the repo tree
    "spark.sql.warehouse.dir" ->
      (sys.props("java.io.tmpdir") + "/graft_warehouse"))

  /** Register every fixture as a temp view so `spark.sql(...)` entry points
    * (the reference's psql/clickhouse-client analogs) work side by side with
    * the DataFrame API. Tables absent from the dir are skipped with a
    * stderr note (bench replica dirs carry only the tables their sweep
    * reads — a SQL query touching a skipped table still fails loudly at
    * its own view lookup, never silently). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      if (new java.io.File(path(sfDir, n)).exists())
        load(spark, sfDir, n).createOrReplaceTempView(n)
      else System.err.println(s"[tables] $n absent in $sfDir — view skipped")
    }
}
