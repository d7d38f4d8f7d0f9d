package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.queries.Q

/** Source/sink operators (SURVEY §2.1, S1–S9).
  *
  * The reference's ingestion is a dataflow: url() CSV with an explicit
  * 16-String-column schema and error tolerance → transform-on-read →
  * INSERT into a partitioned, sort-keyed table (reference: README.md:143-199,
  * clickhouse-init/01-create-table.sql:70-73), then engine-to-engine CSV
  * pipes (README.md:253-274). Here each hop is a Spark job over the
  * driver fixtures; correctness is proven by ROUND-TRIPPING — the oracle
  * reads the ORIGINAL table, so any loss in our CSV sink, CSV source,
  * schema application, partitioned write, or partition-pruned read shows
  * up as a diff.
  */
object IngestJob {

  private def tmp(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_ingest", name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Per-store-root build lock: several registry queries share the
    * snapshot store (q248/q251/q253/q255) and Verify submits queries
    * from concurrent driver threads, so an unguarded check-then-build
    * could race two builders into the same directory. One JVM-level
    * monitor per root serializes the build; readers never need it
    * (manifests are immutable once published). Cross-process runs are
    * already serialized by the driver. */
  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def withStoreLock[T](key: String)(f: => T): T =
    storeLocks.computeIfAbsent(key, _ => new Object).synchronized(f)

  /** DATA-QUALITY GATES on a write job via the Observation API
    * (`CollectMetrics`): the named aggregates ride the SAME pass that
    * writes the data — zero extra scans — and the caller's predicates
    * are checked against the observed values after the job commits.
    * This is how a 100 TB materialization validates itself: a post-hoc
    * validation query would re-read everything it just wrote, and a
    * pre-write `.count()` would scan the input twice. The job writes
    * into the hidden sibling `.<name>.staging`; only when every gate
    * passes is the old `out` deleted and the staging directory renamed
    * into place (through `out`'s Hadoop `FileSystem`), so a rejected or
    * failed write leaves `out` as it was. A reader between the delete
    * and the rename sees no table, never a rejected one (the
    * `atomicPublish` direction). `partitionBy` names the partition
    * columns of the written table (none by default). Returns the
    * observed metric map. */
  def gatedParquetWrite(
      df: DataFrame,
      out: String,
      metrics: Seq[(String, org.apache.spark.sql.Column)],
      gates: Map[String, Any => Boolean],
      partitionBy: Seq[String] = Nil): Map[String, Any] = {
    require(metrics.nonEmpty, "observe at least one metric")
    // fail BEFORE the write: a typo'd gate name would otherwise run the
    // whole materialization and then crash on map lookup, with the
    // intended gate never evaluated
    val unknown = gates.keySet -- metrics.map(_._1).toSet
    require(unknown.isEmpty,
      s"gates reference unobserved metrics: ${unknown.mkString(", ")} " +
        s"(observed: ${metrics.map(_._1).mkString(", ")})")
    val target = new org.apache.hadoop.fs.Path(out)
    val fs = target.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    val staged = new org.apache.hadoop.fs.Path(
      fs.makeQualified(target).getParent, s".${target.getName}.staging")
    val obs = org.apache.spark.sql.Observation()
    try {
      val writer = df.observe(
          obs,
          metrics.head._2.as(metrics.head._1),
          metrics.tail.map { case (n, c) => c.as(n) }: _*)
        .write.mode("overwrite")
      (if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*))
        .parquet(staged.toString)
      val seen = obs.get
      val failed = gates.collect {
        case (name, ok) if !ok(seen(name)) => s"$name=${seen(name)}"
      }
      require(failed.isEmpty,
        s"data-quality gates failed after write to $out: " +
          failed.mkString(", "))
      fs.delete(target, true)
      if (!fs.rename(staged, target))
        throw new java.io.IOException(s"could not publish $staged as $out")
      seen
    } finally fs.delete(staged, true) // gone already once published
  }

  /** Explicit CSV schema (S1: "apply schema to schemaless CSV" — reference
    * README.md:179-194 declares 16 named String columns inline). */
  val eventsCsvSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("ts_str", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** S2+S3+S1: gzip CSV sink with header, then re-read with an explicit
    * schema in DROPMALFORMED mode (the reference's error-tolerance analog:
    * input_format_allow_errors_num drops up to N bad rows). Returns the
    * re-typed rows; oracle reads the original events table — lossless
    * round-trip is the assertion (a dropped or mangled row diffs). */
  val q17 = Q(
    "q17_csv_roundtrip",
    (s, d) => {
      val dir = tmp("events_csv")
      Tables.load(s, d, "events")
        .select(
          col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
          col("value"), col("props"))
        .write.mode("overwrite")
        .option("header", true).option("compression", "gzip")
        .csv(dir)
      s.read
        .schema(eventsCsvSchema)
        .option("header", true)
        .option("mode", "DROPMALFORMED")
        .csv(dir)
        .select(
          col("event_id"), col("user_id"), col("event_type"),
          to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("value"), col("props"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             value, props
      FROM events
      ORDER BY event_id"""))

  /** S5+S7+S8: INSERT…SELECT materialization into a month-partitioned,
    * sort-keyed Parquet table (MergeTree `PARTITION BY toYYYYMM(date)
    * ORDER BY (...)` analog), then a partition-PRUNED aggregate read-back.
    * The month filter hits only partition directories — at 100 TB the scan
    * touches 1/3 of a year's files, not the table. Oracle computes the same
    * rollup from the original lineitem. */
  val q18 = Q(
    "q18_partitioned_sink",
    (s, d) => {
      val dir = tmp(s"lineitem_part_${d.replaceAll("[^0-9.]", "")}")
      Tables.load(s, d, "lineitem")
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyyMM"))
        .repartition(col("ship_month"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
        .write.mode("overwrite")
        .partitionBy("ship_month")
        .parquet(dir)
      s.read.parquet(dir)
        .filter(col("ship_month").between("199801", "199812"))
        // partition-column type inference reads ship_month back as INT;
        // restore the string form the oracle's strftime produces
        .withColumn("ship_month", col("ship_month").cast(StringType))
        .groupBy(col("ship_month"))
        .agg(
          count(lit(1)).as("n"),
          graft.queries.Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("ship_month"))
    },
    Some(s"""
      SELECT strftime(l_shipdate, '%Y%m') AS ship_month,
             count(*) AS n,
             ${graft.queries.Det.dsumSql("l_extendedprice")} AS sum_price
      FROM lineitem
      WHERE strftime(l_shipdate, '%Y%m') BETWEEN '199801' AND '199812'
      GROUP BY ship_month
      ORDER BY ship_month"""))

  /** S9: catalog/metadata introspection (reference: system.parts stats,
    * pg table-size queries — clickhouse/queries.sql:11-18,
    * postgres/get_size.sql). Schema-level facts per fixture table: column
    * count and row count. ORACLE-CHECKED since r5: both facts are
    * engine-independent — DuckDB replays the column count from
    * pragma_table_info over the same parquet and the row count from
    * count(*), so even the catalog surface gets the differential
    * treatment. */
  val q19 = Q(
    "q19_catalog_stats",
    (s, d) => {
      import s.implicits._
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.DurationInt
      // submit the per-table count jobs concurrently — Spark's scheduler
      // interleaves them across the cores; sequential submission leaves
      // the cluster idle between tiny jobs. Each count is awaited (and
      // job-description-tagged) PER TABLE so a hung or failed load names
      // the table instead of surfacing as an anonymous TimeoutException.
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futures = Tables.names.map(t => t -> Future {
        s.sparkContext.setJobDescription(s"q19 catalog stats: count($t)")
        val df = Tables.load(s, d, t)
        (t, df.schema.fields.length.toLong, df.count())
      })
      val stats = futures.map { case (t, f) =>
        try Await.result(f, 10.minutes)
        catch {
          case e: Throwable => throw new RuntimeException(
            s"q19 catalog stats: count of table '$t' failed or timed out", e)
        }
      }
      stats.toDF("tbl", "n_columns", "n_rows").orderBy(col("tbl"))
    },
    Some(Tables.names.sorted.map(t =>
      s"""SELECT '$t' AS tbl,
            CAST((SELECT count(*) FROM pragma_table_info('$t')) AS BIGINT)
              AS n_columns,
            count(*) AS n_rows
          FROM $t""").mkString("", " UNION ALL ", " ORDER BY tbl")))

  /** S9 continued: PER-PARTITION rows+bytes profiling — the analog of the
    * reference's `system.parts` query (reference: clickhouse/queries.sql:
    * 11-18, partition name + rows + bytes per active part). The subject is
    * a month-partitioned Parquet table (q18's layout, written to its own
    * directory so concurrent verify runs never race q18's overwrite); row
    * counts come from a partition-grouped aggregate, file counts and
    * bytes from the filesystem listing, which is exactly what
    * system.parts reads. ORACLE-CHECKED since r5 in certified form: the
    * per-partition ROW counts are engine-independent (DuckDB replays
    * them as a month rollup of the source), while the fs-specific file/
    * byte numbers — which no other engine can reproduce, like the
    * reference's bytes-on-disk — are emitted as presence certificates
    * (every partition has >=1 file and >0 bytes) the oracle checks as
    * literal TRUE; the raw numbers stay spec-covered. */
  val q63 = Q(
    "q63_partition_stats",
    (s, d) => {
      import s.implicits._
      val dir = tmp(s"lineitem_part_stats_${d.replaceAll("[^0-9.]", "")}")
      // write once per (sf, JVM): content is deterministic for a fixed sf,
      // so a prior run's table is byte-equivalent
      if (!Files.exists(Paths.get(dir, "_SUCCESS")))
        Tables.load(s, d, "lineitem")
          .withColumn("ship_month", date_format(col("l_shipdate"), "yyyyMM"))
          .repartition(col("ship_month"))
          .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
          .write.mode("overwrite")
          .partitionBy("ship_month")
          .parquet(dir)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      val sizes = fs
        .listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .map { st =>
          val files = fs.listStatus(st.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
          (
            st.getPath.getName.split("=", 2)(1),
            files.length.toLong,
            files.map(_.getLen).sum)
        }
        .toSeq.toDF("ship_month", "n_files", "bytes")
      val rows = s.read.parquet(dir)
        .groupBy(col("ship_month").cast(StringType).as("ship_month"))
        .agg(count(lit(1)).as("n_rows"))
      rows
        .join(sizes, Seq("ship_month"))
        .select(col("ship_month"), col("n_rows"),
          (col("n_files") > 0L).as("files_present"),
          (col("bytes") > 0L).as("bytes_present"))
        .orderBy(col("ship_month"))
    },
    Some("""
      SELECT strftime(l_shipdate, '%Y%m') AS ship_month,
             count(*) AS n_rows,
             TRUE AS files_present,
             TRUE AS bytes_present
      FROM lineitem
      GROUP BY ship_month
      ORDER BY ship_month"""))

  /** Schema for the DSv2 TSV foreign-table analog (S6): explicit, like the
    * reference's foreign-table DDL (init.sql:27-70). */
  val eventsTsvSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** S6: foreign-table scan with source-side pushdown. Events are exported
    * to a "remote" TSV table, re-read through the graft.sources.tsv DSv2
    * source; Catalyst pushes the event_type/value predicates and the
    * 4→3 column projection INTO the source (visible in the scan's
    * description), and only the aggregate remains in Spark — the split the
    * reference observes for its FDW Q1/Q2 ("PostgreSQL executor bypassed",
    * queries/q1-aggregation-by-type/README.md:139-143). */
  val q34 = Q(
    "q34_dsv2_pushdown",
    (s, d) => {
      val dir = tmp(s"events_tsv_${d.replaceAll("[^0-9.]", "")}")
      Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite")
        // escape=" → embedded quotes doubled, the exact quoting the
        // graft.sources.tsv reader un-quotes (see TsvPartitionReader)
        .option("header", true).option("sep", "\t").option("escape", "\"")
        .csv(dir)
      s.read.format("graft.sources.tsv")
        .schema(eventsTsvSchema)
        .load(dir)
        .filter(col("event_type").isin("click", "view") &&
          col("value") >= 10.0)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          graft.queries.Det.dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some(s"""
      SELECT event_type, count(*) AS n,
             ${graft.queries.Det.dsumSql("value")} AS sum_value
      FROM events
      WHERE event_type IN ('click', 'view') AND value >= 10.0
      GROUP BY event_type
      ORDER BY event_type"""))

  /** S6 continued: the FDW's HEADLINE behavior — the whole aggregation
    * pushed to the remote engine ("entire aggregation pushed …
    * PostgreSQL executor bypassed", reference queries/q1/README.md:139-143,
    * q2:144-148). The graft.sources.tsv source accepts the group-by
    * count/sum/min/max via SupportsPushDownAggregates and computes
    * per-file PARTIAL aggregates source-side; only one row per
    * (group × file) crosses into Spark, whose final aggregate merges
    * partials — the same split a 1000-executor cluster wants (partial at
    * the data, final after the exchange). Aggregates here are over exact
    * types (count, integer sum, min/max), so partial-merge order cannot
    * drift a bit. */
  val q57 = Q(
    "q57_fdw_agg_pushdown",
    (s, d) => {
      val dir = tmp(s"events_tsv_${d.replaceAll("[^0-9.]", "")}_agg")
      Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite")
        .option("header", true).option("sep", "\t").option("escape", "\"")
        .csv(dir)
      s.read.format("graft.sources.tsv")
        .schema(eventsTsvSchema)
        .load(dir)
        .filter(col("value") >= 10.0)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("user_id")).as("sum_user"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(user_id) AS BIGINT) AS sum_user,
             min(value) AS min_value,
             max(value) AS max_value
      FROM events
      WHERE value >= 10.0
      GROUP BY event_type
      ORDER BY event_type"""))

  /** JSONL export/import roundtrip + deterministic GLOBAL SHUFFLE — the
    * dataloader handoff: training corpora ship as JSON-lines, and
    * document order must be randomized-but-reproducible before packing
    * (md5 priority, not a seeded RNG — stable under repartitioning and
    * engines). The global position is computed WITHOUT the
    * all-rows-to-one-partition window a bare
    * `row_number() OVER (ORDER BY …)` plans: range-partition + sort on
    * the priority key, rank within each partition, then add broadcast
    * per-partition offsets (a window over the tiny partition-count
    * table). Positions depend only on the total (key, doc_id) order,
    * not on where the range bounds fall, so the result is identical at
    * any partition count — verified by the oracle computing the same
    * positions with a plain window. The JSONL write+read must preserve
    * every value exactly to pass. */
  val q79 = Q(
    "q79_jsonl_shuffle_export",
    (s, d) => {
      val dir = tmp(s"documents_jsonl_${d.replaceAll("[^0-9.]", "")}")
      // global position = running sum of 1 over the md5 total order
      // (graft.operators.GlobalOrder — shared with q90's token cumsum)
      graft.operators.GlobalOrder
        .withGlobalCumsum(
          Tables.load(s, d, "documents"),
          "doc_id", "shuf", lit(1L), "shuf_pos")
        .drop("_graft_k")
        .write.mode("overwrite").json(dir)
      s.read
        .schema(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
            "n_chars BIGINT, shuf_pos BIGINT")
        .json(dir)
        .select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("shuf_pos"))
        .orderBy(col("shuf_pos"))
    },
    Some("""
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (
               ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)), doc_id)
               AS shuf_pos
      FROM documents
      ORDER BY shuf_pos"""))

  /** ORC round-trip (storage-format parity next to Parquet everywhere,
    * CSV q17, JSONL q79): full events table → zlib ORC, sorted within
    * partitions on the read key so ORC's min/max stripe statistics are
    * selective, → read back, full-row compare against the original via
    * the oracle. Exercises Spark's ORC writer/reader on every fixture
    * type incl. the nanos-derived timestamp and DOUBLE values — any
    * value mangled in either direction diffs. */
  val q92 = Q(
    "q92_orc_roundtrip",
    (s, d) => {
      val dir = tmp(s"events_orc_${d.replaceAll("[^0-9.]", "")}")
      Tables.load(s, d, "events")
        .sortWithinPartitions(col("event_id"))
        .write.mode("overwrite").option("compression", "zlib").orc(dir)
      s.read.orc(dir)
        .select(
          col("event_id"), col("user_id"), col("event_type"), col("ts"),
          col("value"), col("props"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             value, props
      FROM events
      ORDER BY event_id"""))

  /** Parquet SCHEMA EVOLUTION (source-coverage op): two ingest batches
    * with different schemas — the second adds a `quality` column, the
    * way real pipelines grow columns mid-corpus — land in one dataset
    * dir; `mergeSchema=true` reconciles them on read (old rows surface
    * NULL for the new column) and the aggregate proves both batches and
    * the null semantics survive. Scale note: schema merge is a
    * footer-only operation (no data rewrite), which is exactly why it is
    * the production pattern for evolving 100 TB tables in place. */
  val q97 = Q(
    "q97_schema_evolution",
    (s, d) => {
      val dir = tmp(s"documents_evo_${d.replaceAll("[^0-9.]", "")}")
      val docs = Tables.load(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/batch=v1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(
          col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars") % 100).as("quality"))
        .write.mode("overwrite").parquet(s"$dir/batch=v2")
      s.read.option("mergeSchema", true)
        .parquet(s"$dir/batch=v1", s"$dir/batch=v2")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("quality").isNull, 1L).otherwise(0L))
            .as("n_pre_evolution"),
          sum(coalesce(col("quality"), lit(0L))).as("sum_quality"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    },
    Some("""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pre_evolution,
             CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN n_chars % 100
                           ELSE 0 END) AS BIGINT) AS sum_quality,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      GROUP BY lang
      ORDER BY lang"""))

  /** q228: DSv2 WRITE → READ round-trip through graft.sources.tsv — the
    * custom source's new committed write path (staging files invisible
    * to readers, driver-side rename on job commit, TRUNCATE for
    * overwrite) driven end to end: the documents table goes out through
    * the V2 writer and comes back through the V2 reader with its
    * pushdown machinery, and the oracle full-row-compares against the
    * ORIGINAL parquet — any value mangled in either direction (or any
    * torn/duplicated file from a broken commit) diffs. Text compares
    * via md5 so only hashes shuffle. The storage-parity set is now
    * Parquet + CSV (q17) + JSONL (q79) + ORC (q92) + the custom DSv2
    * TSV (q228). */
  val q228 = Q(
    "q228_tsv_roundtrip",
    (s, d) => {
      val dir = tmp(s"documents_tsv_${d.replaceAll("[^0-9.]", "")}")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
      docs.write.format("graft.sources.tsv")
        .mode("overwrite").save(dir)
      s.read.format("graft.sources.tsv").schema(docs.schema).load(dir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
      FROM documents
      ORDER BY doc_id"""))

  /** Bit interleave of two 3-bit cell coordinates → 6-bit Morton
    * z-value; one definition for the driver-side cell enumeration and
    * (as SQL text via [[zcellExpr]]) both engines' column programs. */
  def zInterleave(px: Long, py: Long): Long =
    px % 2 + 2 * (py % 2) + 4 * ((px / 2) % 2) + 8 * ((py / 2) % 2) +
      16 * ((px / 4) % 2) + 32 * ((py / 4) % 2)

  /** The SQL form of [[zInterleave]] over columns `px`/`py` — pure
    * integer arithmetic, parses identically in Spark and DuckDB (the
    * `div` keyword differs: Spark `div`, DuckDB `//`, hence the
    * parameter). */
  def zcellExpr(idiv: String): String =
    s"px % 2 + 2 * (py % 2) + 4 * ((px $idiv 2) % 2) + " +
      s"8 * ((py $idiv 2) % 2) + 16 * ((px $idiv 4) % 2) + " +
      s"32 * ((py $idiv 4) % 2)"

  /** q243: Z-ORDER layout + lossless multi-dimensional pruning — the
    * storage-layout operator (Databricks OPTIMIZE ZORDER / Delta
    * clustering shape) that makes BOX queries over two dimensions prune
    * like one: cell coordinates px/py = scale-relative eighths of the
    * (l_partkey, l_suppkey) domains, interleaved into a 6-bit Morton
    * z-cell, the fact table REWRITTEN partitioned by z-cell (built once
    * per fixture content, `_SUCCESS`-gated like every store here). A
    * box query then enumerates the z-cells covering its rectangle
    * DRIVER-SIDE (12 of 64 for the [2,5]×[1,3] box — the fixed-depth
    * form of the litmax/bigmin range decomposition) and reads ONLY
    * those partitions; PlanShapeSpec pins the actual partition cut.
    * The oracle computes the same aggregate STRAIGHT off the original
    * table — equality proves the cell cover exact (no row lost to the
    * decomposition, none double-counted) and the rewritten copy
    * faithful. At 100 TB this is the difference between scanning
    * 12/64ths and scanning everything for every 2-D range workload the
    * sort order can't serve. */
  val q243 = Q(
    "q243_zorder_pruning",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val mx = li.agg(
        max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"),
        count(lit(1)).as("n"), sum(col("l_orderkey")).as("so")).head()
      val (mp, ms) = (mx.getLong(0), mx.getLong(1))
      val dir = tmp(s"lineitem_zorder_${d.replaceAll("[^0-9.]", "")}_" +
        s"${mx.getLong(2)}_${mx.getLong(3)}_${mp}_$ms")
      if (!Files.exists(Paths.get(dir, "_SUCCESS"))) {
        li
          .withColumn("px", expr(s"(l_partkey * 8) div ${mp + 1}"))
          .withColumn("py", expr(s"(l_suppkey * 8) div ${ms + 1}"))
          .withColumn("zcell", expr(zcellExpr("div")))
          .repartition(col("zcell"))
          .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
          .write.mode("overwrite").partitionBy("zcell").parquet(dir)
      }
      zorderBoxQuery(s, dir)
    },
    Some(s"""
      WITH mx AS (
        SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem
      ), g AS (
        SELECT (l_partkey * 8) // (mp + 1) AS px,
               (l_suppkey * 8) // (ms + 1) AS py,
               l_extendedprice
        FROM lineitem, mx
      )
      SELECT CAST(${zcellExpr("//")} AS BIGINT) AS zcell,
             CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
             count(*) AS n,
             ${graft.queries.Det.dsumSql("l_extendedprice")} AS sum_price
      FROM g
      WHERE px BETWEEN 2 AND 5 AND py BETWEEN 1 AND 3
      GROUP BY px, py
      ORDER BY zcell"""))

  /** The box-query half of q243, separated so PlanShapeSpec can pin the
    * partition cut on ITS OWN queryExecution: cells covering the
    * [2,5]×[1,3] rectangle enumerated driver-side, partitions read via
    * `zcell IN (...)`, residual box predicate kept (redundant at this
    * cell granularity, but the honest general shape — coarser cells
    * overhang the box). */
  def zorderBoxQuery(s: SparkSession, dir: String): DataFrame = {
    val cells =
      for (px <- 2L to 5L; py <- 1L to 3L) yield zInterleave(px, py)
    s.read.parquet(dir)
      .filter(col("zcell").isin(cells: _*))
      .filter(col("px").between(2, 5) && col("py").between(1, 3))
      .groupBy(col("px"), col("py"))
      .agg(
        count(lit(1)).as("n"),
        graft.queries.Det.dsum(col("l_extendedprice")).as("sum_price"))
      .withColumn("zcell", expr(zcellExpr("div")))
      .select(col("zcell"), col("px"), col("py"), col("n"),
        col("sum_price"))
      .orderBy(col("zcell"))
  }

  /** q244: small-file COMPACTION — the OPTIMIZE/maintenance op every
    * streaming or incremental sink eventually needs: a table landed as
    * many tiny files (here: documents deliberately shattered into 64 —
    * the shape a per-trigger streaming sink or a 64-task job leaves)
    * rewritten into size-targeted files. Target count is
    * SCALE-RELATIVE: ⌈rows / 200⌉, so the same code compacts a 500-row
    * fixture to 3 files and a 100 TB day to however many 200-row...
    * rather, row-budgeted files its row count demands — the budget
    * constant is what a real job derives from target bytes ÷ avg row
    * size. Both rewrites are `_SUCCESS`-gated build-once. The oracle
    * aggregates (with an order-canonical md5 ledger per lang) straight
    * off the ORIGINAL table, so a pass proves BOTH rewrites preserved
    * every row and every byte of content; the spec pins the actual
    * file-count collapse, which is the operational point. At 100 TB:
    * open-file/namenode pressure and task-launch overhead scale with
    * file COUNT, not bytes — compaction is what keeps scan task counts
    * proportional to data, and this is the one maintenance op the
    * storage family still lacked. */
  val q244 = Q(
    "q244_compaction",
    (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
      val fp = docs.agg(
        count(lit(1)).as("n"), sum(col("doc_id")).as("sid"),
        sum(col("n_chars")).as("sc")).head()
      val tag = s"${fp.getLong(0)}_${fp.getLong(1)}_${fp.getLong(2)}"
      val shattered = tmp(
        s"documents_shattered_${d.replaceAll("[^0-9.]", "")}_$tag")
      if (!Files.exists(Paths.get(shattered, "_SUCCESS")))
        docs.repartition(64).write.mode("overwrite").parquet(shattered)
      val compacted = tmp(
        s"documents_compacted_${d.replaceAll("[^0-9.]", "")}_$tag")
      if (!Files.exists(Paths.get(compacted, "_SUCCESS"))) {
        val target = math.max(1L, (fp.getLong(0) + 199) / 200).toInt
        // repartitionByRange on doc_id: compacted files are RANGE-
        // clustered (each file a contiguous id span), restoring the
        // min/max-stats locality the shattered layout destroyed —
        // compaction that round-robins rows compacts the file count
        // but forfeits pruning
        s.read.parquet(shattered)
          .repartitionByRange(target, col("doc_id"))
          .sortWithinPartitions(col("doc_id"))
          .write.mode("overwrite").parquet(compacted)
      }
      s.read.parquet(compacted)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"),
          md5(array_join(expr(
            "sort_array(collect_list(md5(concat(CAST(doc_id AS STRING)," +
              " ':', text))))"), " ")).as("ledger"))
        .orderBy(col("lang"))
    },
    Some("""
      SELECT lang, count(*) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             md5(array_to_string(list_sort(
               list(md5(CAST(doc_id AS VARCHAR) || ':' || text))), ' '))
               AS ledger
      FROM documents
      GROUP BY lang
      ORDER BY lang"""))

  /** All data files under `dataDir/sub` (one snapshot append), as
    * manifest-ready paths relative to `dataDir`, sorted. */
  private[graft] def listParquet(dataDir: java.nio.file.Path, sub: String)
      : Seq[String] = {
    import scala.jdk.CollectionConverters._
    val st = Files.walk(dataDir.resolve(sub))
    try st.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => dataDir.relativize(p).toString).toSeq.sorted
    finally st.close()
  }

  /** One snapshot append: write `df` (schema + a `bucket` partition
    * column) under `dataDir/sub`, one file per bucket directory, and
    * return the new files as manifest entries. Data files land BEFORE
    * any manifest references them — the write is invisible until a
    * manifest commits. */
  private[graft] def snapshotAppend(df: DataFrame, dataDir: java.nio.file.Path,
      sub: String): Seq[String] = {
    df.repartition(1).write.mode("overwrite").partitionBy("bucket")
      .parquet(dataDir.resolve(sub).toString)
    listParquet(dataDir, sub)
  }

  /** Atomically publish a small control file (temp write + ATOMIC_MOVE)
    * — the one idiom behind every manifest/ledger commit here. An
    * existing target is deleted FIRST: the JDK documents ATOMIC_MOVE
    * onto an existing file as implementation-specific (r7 review), and
    * the rebuild paths legitimately re-publish (a reader between the
    * delete and the move sees no file, which every consumer treats as
    * "not committed" — the safe direction). */
  private[graft] def atomicPublish(dir: java.nio.file.Path, name: String,
      content: String): Unit = {
    val staged = dir.resolve(s".$name.tmp")
    Files.writeString(staged, content)
    Files.deleteIfExists(dir.resolve(name))
    Files.move(staged, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Atomically publish version `n`'s manifest: the manifest IS the
    * commit point — a crash beforehand leaves the data files orphaned
    * but every committed version intact. */
  private[graft] def commitManifest(root: java.nio.file.Path, n: Int,
      entries: Seq[String]): Unit =
    atomicPublish(root, s"v$n.manifest.tsv", entries.mkString("\n") + "\n")

  /** (count, Σ key, Σ cents, max key) of the orders table — the content
    * fingerprint every store builder keys its directory on. Memoized
    * per (fixture dir, filesystem stamp): nine builders otherwise
    * re-run the same full scan per suite pass even when every store
    * already exists (r7 review); the stamp invalidates on in-place
    * regeneration, the pivotMemo discipline. */
  private val fpMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Long, Long)]()
  private[graft] def ordersFingerprint(s: SparkSession, d: String)
      : (Long, Long, Long, Long) =
    fpMemo.computeIfAbsent(
      d + "#" + graft.FsStamp.of(Tables.path(d, "orders")), _ => {
        val fp = Tables.load(s, d, "orders")
          .select(col("o_orderkey").as("k"),
            graft.queries.Det.cents(col("o_totalprice")).as("c"))
          .agg(count(lit(1)), sum(col("k")), sum(col("c")),
            max(col("k"))).head()
        (fp.getLong(0), fp.getLong(1), fp.getLong(2), fp.getLong(3))
      })

  private[graft] def readManifest(root: java.nio.file.Path, n: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(root.resolve(s"v$n.manifest.tsv")).asScala.toSeq
      .filter(_.nonEmpty)
  }

  /** q248: SNAPSHOT / TIME-TRAVEL table — the manifest-commit half of a
    * lakehouse table format (Iceberg/Delta shape), built from parts this
    * repo already trusts: immutable data files + an atomically-published
    * per-version manifest listing exactly the files that ARE the table
    * at that version. Three commits over an orders-derived table, each a
    * real lifecycle event:
    *   v1 append A (o_orderkey <= 3/5 of the key span, 4 bucket files),
    *   v2 append B (the rest; manifest = A + B files — appends touch no
    *      existing file),
    *   v3 copy-on-write UPDATE (c += 100 where k % 4 = 3): the bucket=3
    *      files are found by MANIFEST-LEVEL pruning (path metadata, no
    *      data read), rewritten once, and v3's manifest swaps exactly
    *      those entries — 7 files, 6 shared untouched with v2.
    * Plus one staged append that "crashed" before its manifest: its
    * files sit in the data dir referenced by nothing. The query
    * time-travels every version (reads exactly the manifest's files)
    * and reports the vacuum DRY-RUN (all-files minus all-referenced =
    * orphans) — retention discipline says report, don't auto-delete.
    * The oracle recomputes every version's stats straight off the
    * ORIGINAL orders table, so a pass proves: committed versions are
    * immutable under later commits (v1/v2 unchanged after v3), the
    * update touched exactly its predicate's rows, the orphans are
    * exactly the crashed append, and the hardcoded file counts pin the
    * copy-on-write granularity. At 100 TB this is the core scale
    * argument for table formats: planning reads manifests (KBs), never
    * directory listings; snapshot isolation is one atomic rename; an
    * update rewrites only the files its predicate prunes to. Build-once
    * per fixture content (v3-manifest-gated), reruns only read. */
  /** Build (once per fixture content) and open the snapshot store:
    * (store root, data dir, manifests v1..v3). Shared by q248 (version
    * stats + vacuum) and q251 (version diff), either of which may run
    * first. */
  def ensureSnapshotStore(s: SparkSession, d: String, kind: String = "snap")
      : (java.nio.file.Path, java.nio.file.Path, Map[Int, Seq[String]]) = {
    val orders = Tables.load(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        graft.queries.Det.cents(col("o_totalprice")).as("c"))
    val (fn, fsk, fsc, fmk) = ordersFingerprint(s, d)
    val cut = fmk * 3 / 5
    val root = Paths.get(tmp(
      s"orders_${kind}_${d.replaceAll("[^0-9.]", "")}_${fn}_${fsk}_$fsc"))
    val dataDir = root.resolve("data")
    withStoreLock(root.toString) {
    if (!Files.exists(root.resolve("v3.manifest.tsv"))) {
      Files.createDirectories(dataDir)
      val base = orders.withColumn("bucket", col("k") % 4)
      val a = snapshotAppend(base.filter(col("k") <= cut), dataDir, "a")
      commitManifest(root, 1, a)
      val b = snapshotAppend(base.filter(col("k") > cut), dataDir, "b")
      commitManifest(root, 2, a ++ b)
      // copy-on-write: manifest-level pruning — only bucket=3 paths
      // are read and rewritten; no other data file is touched
      val hot = (a ++ b).filter(_.contains("bucket=3"))
      val rewritten = snapshotAppend(
        s.read.parquet(hot.map(p => dataDir.resolve(p).toString): _*)
          .withColumn("c", col("c") + 100L)
          .withColumn("bucket", col("k") % 4),
        dataDir, "c")
      commitManifest(root, 3,
        (a ++ b).filterNot(_.contains("bucket=3")) ++ rewritten)
      // a staged append whose writer died before publishing a manifest
      snapshotAppend(base.filter(col("k") % 17 === 0), dataDir, "crashed")
    }
    }
    // versions may have been EXPIRED (q256): return only live manifests
    (root, dataDir,
      (1 to 3).filter(n => Files.exists(root.resolve(s"v$n.manifest.tsv")))
        .map(n => n -> readManifest(root, n)).toMap)
  }

  val q248 = Q(
    "q248_snapshot_time_travel",
    (s, d) => {
      val (root, dataDir, manifests) = ensureSnapshotStore(s, d)
      val referenced = manifests.values.flatten.toSet
      val orphans = Seq("a", "b", "c", "crashed")
        .filter(sub => Files.exists(dataDir.resolve(sub)))
        .flatMap(listParquet(dataDir, _))
        .filterNot(referenced)
      def snap(tag: String, files: Seq[String]): DataFrame =
        s.read.parquet(files.map(p => dataDir.resolve(p).toString): _*)
          .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sc"))
          .select(
            lit(tag).as("snapshot"),
            lit(files.size.toLong).as("n_files"),
            col("n_rows"),
            (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
      snap("v1", manifests(1))
        .unionAll(snap("v2", manifests(2)))
        .unionAll(snap("v3", manifests(3)))
        .unionAll(snap("orphans", orphans))
        .orderBy(col("snapshot"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               ${graft.queries.Det.centsSql("o_totalprice")} AS c
        FROM orders
      ), cut AS (
        SELECT max(k) * 3 // 5 AS cut FROM base
      )
      SELECT 'v1' AS snapshot, CAST(4 AS BIGINT) AS n_files,
             count(*) AS n_rows,
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100 AS sum_value
      FROM base, cut WHERE k <= cut
      UNION ALL
      SELECT 'v2', 8, count(*),
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100
      FROM base
      UNION ALL
      SELECT 'v3', 7, count(*),
             CAST(CAST(sum(CASE WHEN k % 4 = 3 THEN c + 100 ELSE c END)
               AS BIGINT) AS DOUBLE) / 100
      FROM base
      UNION ALL
      SELECT 'orphans', 4, count(*),
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100
      FROM base WHERE k % 17 = 0
      ORDER BY snapshot"""))

  private[graft] def readFiles(s: SparkSession, dataDir: java.nio.file.Path,
      files: Seq[String]): Option[DataFrame] =
    if (files.isEmpty) None
    else Some(s.read.parquet(files.map(p => dataDir.resolve(p).toString): _*))

  /** q251: VERSION DIFF (change-data-feed) between snapshot commits —
    * "what changed from v_from to v_to", answered the way a table
    * format can and a bare directory cannot: files present in BOTH
    * manifests are immutable and therefore contribute only UNCHANGED
    * rows (their count is parquet footer metadata — no data read), so
    * the diff reads ONLY the symmetric difference of the manifests and
    * joins those hot files on the key. v1→v2 is the append case (hot =
    * the appended files; every row 'added'); v2→v3 is the copy-on-write
    * update case (hot = 2 old + 1 rewritten bucket=3 file; every row
    * 'updated' with delta +1.00). The oracle recomputes both diffs
    * straight off orders — equality proves the manifest-pruned diff
    * exhaustive (no change hides in a shared file, because shared files
    * CANNOT change — that's what immutability + manifest swap mean).
    * At 100 TB this is the whole point of CDC-from-manifests: diff cost
    * scales with the CHANGED file set, not the table. Deltas stay in
    * exact integer cents until one final division. */
  val q251 = Q(
    "q251_version_diff",
    (s, d) => {
      val (_, dataDir, m) = ensureSnapshotStore(s, d)
      def diff(tag: String, from: Seq[String], to: Seq[String]): DataFrame = {
        val shared = from.toSet & to.toSet
        val sharedN = readFiles(s, dataDir, shared.toSeq.sorted)
          .map(_.count()).getOrElse(0L)
        val hotFrom = readFiles(s, dataDir, from.filterNot(shared))
          .map(_.select(col("k"), col("c").as("c_from")))
        val hotTo = readFiles(s, dataDir, to.filterNot(shared))
          .map(_.select(col("k"), col("c").as("c_to")))
        val joined = (hotFrom, hotTo) match {
          case (Some(a), Some(b)) => Some(a.join(b, Seq("k"), "full_outer"))
          case (None, Some(b)) =>
            Some(b.withColumn("c_from", lit(null).cast(LongType)))
          case (Some(a), None) =>
            Some(a.withColumn("c_to", lit(null).cast(LongType)))
          case (None, None) => None
        }
        val hotAgg = joined.map(
          _.withColumn("status",
            when(col("c_from").isNull, lit("added"))
              .when(col("c_to").isNull, lit("removed"))
              .when(col("c_from") === col("c_to"), lit("unchanged"))
              .otherwise(lit("updated")))
            .groupBy(col("status"))
            .agg(
              count(lit(1)).as("n"),
              sum(coalesce(col("c_to"), lit(0L)) -
                coalesce(col("c_from"), lit(0L))).as("dc")))
        val sharedRow = s.range(1).select(
          lit("unchanged").as("status"), lit(sharedN).as("n"),
          lit(0L).as("dc"))
        hotAgg.map(_.unionAll(sharedRow)).getOrElse(sharedRow)
          .groupBy(col("status"))
          .agg(sum(col("n")).as("n_rows"),
            (sum(col("dc")).cast(DoubleType) / lit(100.0))
              .as("delta_value"))
          .select(lit(tag).as("diff"), col("status"), col("n_rows"),
            col("delta_value"))
      }
      diff("v1~v2", m(1), m(2))
        .unionAll(diff("v2~v3", m(2), m(3)))
        .orderBy(col("diff"), col("status"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               ${graft.queries.Det.centsSql("o_totalprice")} AS c
        FROM orders
      ), cut AS (
        SELECT max(k) * 3 // 5 AS cut FROM base
      )
      SELECT 'v1~v2' AS diff, 'added' AS status, count(*) AS n_rows,
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100 AS delta_value
      FROM base, cut WHERE k > cut
      UNION ALL
      SELECT 'v1~v2', 'unchanged', count(*), 0.0
      FROM base, cut WHERE k <= cut
      UNION ALL
      SELECT 'v2~v3', 'unchanged', count(*), 0.0
      FROM base WHERE k % 4 <> 3
      UNION ALL
      SELECT 'v2~v3', 'updated', count(*), CAST(count(*) AS DOUBLE)
      FROM base WHERE k % 4 = 3
      ORDER BY diff, status"""))

  /** q252: WRITE-AUDIT-PUBLISH — the branch-based ingestion discipline
    * (Iceberg WAP / staging-branch shape) the snapshot store makes
    * cheap: new data lands on an isolated BRANCH manifest that main
    * readers cannot see; a data-quality audit runs against the branch;
    * only a passing audit PROMOTES the branch manifest to the next
    * version (one atomic rename — publish is all-or-nothing), while a
    * failing audit deletes the branch manifest and leaves the bad files
    * orphaned for vacuum (q248's dry-run discipline). The fixture run
    * stages the same append twice: once poisoned (c negated where
    * k % 19 = 0 — the audit's `c <= 0` contract fires) and once clean.
    * The report audits every artifact's CONTENTS as-found and derives
    * `committed` from store state (are the artifact's files referenced
    * by any version manifest?) — so a pass proves: the bad branch never
    * published, the good branch became v2 byte-for-byte, and main-v1
    * was never perturbed by either staging. At 100 TB the audit reads
    * only the staged files (branch = shared immutable base + new
    * files), so the quality gate costs one pass over the NEW data, not
    * the table. */
  val q252 = Q(
    "q252_write_audit_publish",
    (s, d) => {
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          graft.queries.Det.cents(col("o_totalprice")).as("c"))
      val (fn, fsk, fsc, fmk) = ordersFingerprint(s, d)
      val cut = fmk * 3 / 5
      val root = Paths.get(tmp(
        s"orders_wap_${d.replaceAll("[^0-9.]", "")}_${fn}_${fsk}_$fsc"))
      val dataDir = root.resolve("data")
      def violations(df: DataFrame): Long =
        df.agg(sum(when(col("c") <= 0L, 1L).otherwise(0L))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      withStoreLock(root.toString) {
      if (!Files.exists(root.resolve("v2.manifest.tsv"))) {
        Files.createDirectories(dataDir)
        val base = orders.withColumn("bucket", col("k") % 4)
        val v1 = snapshotAppend(base.filter(col("k") <= cut), dataDir, "base")
        commitManifest(root, 1, v1)
        val fresh = base.filter(col("k") > cut)
        // branch 1: poisoned append — audit must reject it
        val bad = snapshotAppend(
          fresh.withColumn("c",
            when(col("k") % 19 === 0, -col("c")).otherwise(col("c"))),
          dataDir, "stage_bad")
        val badBranch = root.resolve("branch-bad.manifest.tsv")
        atomicPublish(root, "branch-bad.manifest.tsv",
          (v1 ++ bad).mkString("\n") + "\n")
        // the audit reads ONLY the branch's new files
        if (violations(readFiles(s, dataDir, bad).get) > 0)
          Files.delete(badBranch) // reject: branch gone, files orphaned
        else commitManifest(root, 2, v1 ++ bad)
        // branch 2: clean append — audit passes, branch promotes to v2
        val good = snapshotAppend(fresh, dataDir, "stage_good")
        val goodBranch = root.resolve("branch-good.manifest.tsv")
        atomicPublish(root, "branch-good.manifest.tsv",
          (v1 ++ good).mkString("\n") + "\n")
        if (violations(readFiles(s, dataDir, good).get) > 0)
          Files.delete(goodBranch)
        else Files.move(goodBranch, root.resolve("v2.manifest.tsv"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      }
      val published = (1 to 2)
        .flatMap(n => readManifest(root, n)).toSet
      def report(step: String, sub: String): DataFrame = {
        val files = listParquet(dataDir, sub)
        readFiles(s, dataDir, files).get
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("c") <= 0L, 1L).otherwise(0L))
              .as("n_violations"))
          .select(lit(step).as("step"), col("n_rows"), col("n_violations"),
            lit(files.forall(published)).as("committed"))
      }
      def version(step: String, n: Int): DataFrame =
        readFiles(s, dataDir, readManifest(root, n)).get
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("c") <= 0L, 1L).otherwise(0L))
              .as("n_violations"))
          .select(lit(step).as("step"), col("n_rows"),
            col("n_violations"), lit(true).as("committed"))
      version("main_v1", 1)
        .unionAll(version("main_v2", 2))
        .unionAll(report("staged_bad", "stage_bad"))
        .unionAll(report("staged_good", "stage_good"))
        .orderBy(col("step"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               ${graft.queries.Det.centsSql("o_totalprice")} AS c
        FROM orders
      ), cut AS (
        SELECT max(k) * 3 // 5 AS cut FROM base
      )
      SELECT 'main_v1' AS step, count(*) AS n_rows,
             CAST(sum(CASE WHEN c <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations,
             true AS committed
      FROM base, cut WHERE k <= cut
      UNION ALL
      SELECT 'main_v2', count(*),
             CAST(sum(CASE WHEN c <= 0 THEN 1 ELSE 0 END) AS BIGINT), true
      FROM base
      UNION ALL
      SELECT 'staged_bad', count(*),
             CAST(sum(CASE WHEN (CASE WHEN k % 19 = 0 THEN -c ELSE c END)
               <= 0 THEN 1 ELSE 0 END) AS BIGINT), false
      FROM base, cut WHERE k > cut
      UNION ALL
      SELECT 'staged_good', count(*),
             CAST(sum(CASE WHEN c <= 0 THEN 1 ELSE 0 END) AS BIGINT), true
      FROM base, cut WHERE k > cut
      ORDER BY step"""))

  /** q253: MERGE-ON-READ delete — the other half of the delete story
    * q248's copy-on-write update started (Iceberg equality-delete /
    * Delta deletion-vector shape): v4 deletes every k % 10 = 6 row by
    * committing a small EQUALITY-DELETE file (just the keys) alongside
    * the untouched v3 data files — write cost is the delete-set size,
    * zero data files rewritten — and readers apply it as a broadcast
    * ANTI-JOIN at scan time. The manifest marks delete entries with a
    * `delete:` prefix, so one file list carries both roles and the
    * atomic-rename commit covers them together. The report shows v3
    * (before), v4-live (after), and v4-deleted (the anti-join's
    * complement), and the oracle recomputes all three from orders —
    * equality proves the delete applied to exactly its predicate's
    * rows and v3 stayed immutable. The COW/MOR trade at 100 TB, in one
    * store: update-heavy maintenance rewrites files once so reads stay
    * pure scans (q248 v3); delete-heavy churn commits key files in
    * O(deleted) and pays a broadcast anti-join per read until the next
    * compaction folds the deletes in (q244's op). Both discipline the
    * same manifests. */
  /** Ensure the v4 merge-on-read delete commit exists (shared by q253
    * and q255, either of which may run first). */
  private def ensureMorDeletes(s: SparkSession, root: java.nio.file.Path,
      dataDir: java.nio.file.Path, v3: Seq[String]): Unit =
    withStoreLock(root.toString) {
      if (!Files.exists(root.resolve("v4.manifest.tsv"))) {
        readFiles(s, dataDir, v3).get
          .filter(col("k") % 10 === 6).select(col("k"))
          .repartition(1).write.mode("overwrite")
          .parquet(dataDir.resolve("deletes").toString)
        commitManifest(root, 4,
          v3 ++ listParquet(dataDir, "deletes").map("delete:" + _))
      }
    }

  val q253 = Q(
    "q253_merge_on_read",
    (s, d) => {
      val (root, dataDir, m) = ensureSnapshotStore(s, d)
      ensureMorDeletes(s, root, dataDir, m(3))
      val v4 = readManifest(root, 4)
      val dataFiles = v4.filterNot(_.startsWith("delete:"))
      val delFiles = v4.filter(_.startsWith("delete:"))
        .map(_.stripPrefix("delete:"))
      val data = readFiles(s, dataDir, dataFiles).get
      val dels = readFiles(s, dataDir, delFiles).get.select(col("k"))
      def stats(tag: String, df: DataFrame, nFiles: Int): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sc"))
          .select(lit(tag).as("snapshot"),
            lit(nFiles.toLong).as("n_files"), col("n_rows"),
            (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
      stats("v3", readFiles(s, dataDir, m(3)).get, m(3).size)
        .unionAll(stats("v4_deleted",
          data.join(broadcast(dels), Seq("k"), "left_semi"), delFiles.size))
        .unionAll(stats("v4_live",
          data.join(broadcast(dels), Seq("k"), "left_anti"), v4.size))
        .orderBy(col("snapshot"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 4 = 3
                    THEN ${graft.queries.Det.centsSql("o_totalprice")} + 100
                    ELSE ${graft.queries.Det.centsSql("o_totalprice")}
               END AS c
        FROM orders
      )
      SELECT 'v3' AS snapshot, CAST(7 AS BIGINT) AS n_files,
             count(*) AS n_rows,
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100 AS sum_value
      FROM base
      UNION ALL
      SELECT 'v4_deleted', 1, count(*),
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100
      FROM base WHERE k % 10 = 6
      UNION ALL
      SELECT 'v4_live', 8, count(*),
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100
      FROM base WHERE k % 10 <> 6
      ORDER BY snapshot"""))

  /** q255: COMPACTION AS A COMMIT — the maintenance op that closes the
    * merge-on-read loop q253 opened: v4's read path pays a broadcast
    * anti-join against the equality-delete file on EVERY scan; v5
    * rewrites the live rows once (range-clustered per bucket, q244's
    * layout discipline) and commits a manifest with NO delete entries,
    * so every later reader is a pure scan again. Crucially the rewrite
    * is itself a snapshot commit: v4 stays byte-identical behind its
    * manifest (time travel through the compaction keeps working, so the
    * delete file stays referenced and vacuum spares it), and the oracle
    * proves v5's pure-scan contents equal v4's anti-join contents —
    * compaction changed the LAYOUT and nothing else. This is the COW ↔
    * MOR lifecycle at 100 TB: absorb churn cheaply as delete files,
    * amortize them away on the maintenance cadence, and let the
    * manifest chain make both states first-class versions. */
  val q255 = Q(
    "q255_compaction_commit",
    (s, d) => {
      val (root, dataDir, m) = ensureSnapshotStore(s, d)
      ensureMorDeletes(s, root, dataDir, m(3))
      val v4 = readManifest(root, 4)
      val dataFiles = v4.filterNot(_.startsWith("delete:"))
      val delFiles = v4.filter(_.startsWith("delete:"))
        .map(_.stripPrefix("delete:"))
      def v4Live: DataFrame =
        readFiles(s, dataDir, dataFiles).get.join(
          broadcast(readFiles(s, dataDir, delFiles).get.select(col("k"))),
          Seq("k"), "left_anti")
      withStoreLock(root.toString) {
        if (!Files.exists(root.resolve("v5.manifest.tsv")))
          commitManifest(root, 5, snapshotAppend(
            v4Live.withColumn("bucket", col("k") % 4), dataDir, "compact5"))
      }
      val v5 = readManifest(root, 5)
      def stats(tag: String, df: DataFrame, nFiles: Int, nDel: Int)
          : DataFrame =
        df.agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sc"))
          .select(lit(tag).as("snapshot"),
            lit(nFiles.toLong).as("n_files"),
            lit(nDel.toLong).as("n_delete_files"), col("n_rows"),
            (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
      stats("v4", v4Live, v4.size, delFiles.size)
        .unionAll(stats("v5",
          readFiles(s, dataDir, v5).get, v5.size,
          v5.count(_.startsWith("delete:"))))
        .orderBy(col("snapshot"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 4 = 3
                    THEN ${graft.queries.Det.centsSql("o_totalprice")} + 100
                    ELSE ${graft.queries.Det.centsSql("o_totalprice")}
               END AS c
        FROM orders
        WHERE o_orderkey % 10 <> 6
      )
      SELECT 'v4' AS snapshot, CAST(8 AS BIGINT) AS n_files,
             CAST(1 AS BIGINT) AS n_delete_files, count(*) AS n_rows,
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100 AS sum_value
      FROM base
      UNION ALL
      SELECT 'v5', 4, 0, count(*),
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100
      FROM base
      ORDER BY snapshot"""))

  /** q256: SNAPSHOT EXPIRY + VACUUM EXECUTION — the destructive half
    * q248 deliberately dry-ran, on its OWN store clone (kind "vac") so
    * the shared time-travel store stays intact: retention keeps only
    * the newest version, the expired manifests are removed, and every
    * data file no surviving manifest references (the superseded
    * bucket=3 files and the crashed append) is physically deleted.
    * Destructive maintenance gets the audit discipline real systems
    * require: the VACUUM LEDGER (what was expired, which files died,
    * how many rows/cents they held — measured BEFORE deletion) commits
    * atomically FIRST, then deletion applies idempotently from the
    * ledger — a crash at any point leaves either a no-op or extra
    * not-yet-deleted files, never a lying report, and reruns replay the
    * ledger rather than re-deriving state that no longer exists. The
    * oracle recomputes the ledger's row/value content AND the surviving
    * version's stats from orders: a pass proves vacuum deleted exactly
    * the unreferenced files and the retained version still reads
    * perfectly after the purge. At 100 TB expiry is what bounds
    * manifest history and COW's superseded-file debt; the ledger is
    * what lets you trust a job that deletes petabytes. */
  val q256 = Q(
    "q256_expire_vacuum",
    (s, d) => {
      val (root, dataDir, m) = ensureSnapshotStore(s, d, "vac")
      val ledger = root.resolve("vacuum.log.tsv")
      withStoreLock(root.toString) {
        if (!Files.exists(ledger)) {
          val expired = Seq(1, 2).map(n => s"v$n.manifest.tsv")
          val keep = m(3).toSet
          val dead = Seq("a", "b", "c", "crashed")
            .filter(sub => Files.exists(dataDir.resolve(sub)))
            .flatMap(listParquet(dataDir, _))
            .filterNot(keep)
          val st = readFiles(s, dataDir, dead).get
            .agg(count(lit(1)).as("n"), sum(col("c")).as("sc")).head()
          val lines =
            expired.map(f => s"manifest\t$f") ++
              dead.map(f => s"file\t$f") :+
              s"stats\t${st.getLong(0)}\t${st.getLong(1)}"
          atomicPublish(root, "vacuum.log.tsv",
            lines.mkString("\n") + "\n")
        }
        // deletion always (re)applies from the committed ledger —
        // idempotent, so a crash mid-purge just resumes here
        import scala.jdk.CollectionConverters._
        val entries = Files.readAllLines(ledger).asScala
          .filter(_.nonEmpty).map(_.split("\t").toSeq)
        entries.collect { case Seq("manifest", f) => f }
          .foreach(f => Files.deleteIfExists(root.resolve(f)))
        entries.collect { case Seq("file", f) => f }
          .foreach(f => Files.deleteIfExists(dataDir.resolve(f)))
      }
      import scala.jdk.CollectionConverters._
      val entries = Files.readAllLines(ledger).asScala
        .filter(_.nonEmpty).map(_.split("\t").toSeq)
      val nManifests = entries.count(_.headOption.contains("manifest"))
      val deadFiles = entries.collect { case Seq("file", f) => f }
      val statsLine = entries.find(_.headOption.contains("stats")).get
      val (deadRows, deadCents) = (statsLine(1), statsLine(2))
      val survivor = readFiles(s, dataDir, m(3)).get
        .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sc"))
        .select(lit("v3_after_vacuum").as("step"),
          lit(m(3).size.toLong).as("n_files"), col("n_rows"),
          (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
      val expiredRow = s.range(1).select(
        lit("expired_manifests").as("step"),
        lit(nManifests.toLong).as("n_files"), lit(0L).as("n_rows"),
        lit(0.0).as("sum_value"))
      val vacuumedRow = s.range(1).select(
        lit("vacuumed_files").as("step"),
        lit(deadFiles.size.toLong).as("n_files"),
        lit(deadRows.toLong).as("n_rows"),
        lit(deadCents.toDouble / 100.0).as("sum_value"))
      expiredRow.unionAll(survivor).unionAll(vacuumedRow)
        .orderBy(col("step"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               ${graft.queries.Det.centsSql("o_totalprice")} AS c
        FROM orders
      )
      SELECT 'expired_manifests' AS step, CAST(2 AS BIGINT) AS n_files,
             CAST(0 AS BIGINT) AS n_rows, 0.0 AS sum_value
      UNION ALL
      SELECT 'v3_after_vacuum', 7, count(*),
             CAST(CAST(sum(CASE WHEN k % 4 = 3 THEN c + 100 ELSE c END)
               AS BIGINT) AS DOUBLE) / 100
      FROM base
      UNION ALL
      SELECT 'vacuumed_files', 6,
             (SELECT count(*) FROM base WHERE k % 4 = 3)
               + (SELECT count(*) FROM base WHERE k % 17 = 0),
             CAST(CAST((SELECT sum(c) FROM base WHERE k % 4 = 3)
               + (SELECT sum(c) FROM base WHERE k % 17 = 0)
               AS BIGINT) AS DOUBLE) / 100
      ORDER BY step"""))

  /** q257: ZONE-MAP file skipping from a STATS MANIFEST — the data-
    * skipping mechanism table formats use where q243's z-order used
    * partition DIRECTORIES: each data file's (min, max) key range is
    * recorded in the manifest at write time, and a range query prunes
    * files DRIVER-SIDE from those stats before any I/O — no layout key
    * in the path, no partition discovery, planning cost = one KB-sized
    * manifest read. Build once: orders range-clustered into 8 files
    * with explicit disjoint key-eighth spans (range clustering is what
    * makes zone maps BITE — random layout gives every file the full
    * [min,max] and prunes nothing, the q244 lesson), true per-file
    * stats measured from the written data (never assumed from the
    * clustering intent). The scale-relative band query [maxK/3, 2maxK/3]
    * overlaps exactly 4 of the 8 spans at every SF (dense uniform
    * keys). The oracle recomputes the band aggregate AND the pruning
    * arithmetic from orders, so a pass proves the skipped files could
    * not have held a matching row; the spec additionally READS the
    * skipped files to prove losslessness directly. At 100 TB zone maps
    * are the first line of scan avoidance: they turn every range/point
    * predicate into a file-list cut before Spark schedules a single
    * task. */
  val q257 = Q(
    "q257_zonemap_skipping",
    (s, d) => {
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          graft.queries.Det.cents(col("o_totalprice")).as("c"))
      val (fn, fsk, fsc, mk) = ordersFingerprint(s, d)
      val root = Paths.get(tmp(
        s"orders_zm_${d.replaceAll("[^0-9.]", "")}_${fn}_${fsk}_$fsc"))
      val dataDir = root.resolve("data")
      val manifest = root.resolve("stats.manifest.tsv")
      withStoreLock(root.toString) {
        if (!Files.exists(manifest)) {
          Files.createDirectories(dataDir)
          orders.withColumn("bucket", expr(s"k * 8 div ${mk + 1}"))
            .repartition(1).sortWithinPartitions(col("k"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(dataDir.resolve("r").toString)
          // TRUE stats measured from the written files, never assumed
          // from the clustering intent. Bucket-grain stats stay SAFE
          // even if a bucket ever split into several files: each line
          // would carry the bucket-wide [min,max], a SUPERSET range —
          // pruning reads extra files but can never skip a match
          // (q264's additive stats are per-FILE for the same reason).
          // Partition-dir type inference reads bucket back as INT
          val stats = s.read.parquet(dataDir.resolve("r").toString)
            .groupBy(col("bucket").cast(LongType).as("bucket"))
            .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
            .collect().map(r => r.getLong(0) ->
              ((r.getLong(1), r.getLong(2)))).toMap
          val lines = listParquet(dataDir, "r").map { p =>
            val b = p.split("/").find(_.startsWith("bucket="))
              .get.stripPrefix("bucket=").toLong
            s"$p\t${stats(b)._1}\t${stats(b)._2}"
          }
          atomicPublish(root, "stats.manifest.tsv",
            lines.mkString("\n") + "\n")
        }
      }
      import scala.jdk.CollectionConverters._
      val entries = Files.readAllLines(manifest).asScala
        .filter(_.nonEmpty).map(_.split("\t")).toSeq
      val (lo, hi) = (mk / 3, 2 * mk / 3)
      // driver-side pruning: interval overlap against the stats
      val hit = entries.filter(e => e(2).toLong >= lo && e(1).toLong <= hi)
      s.read.parquet(hit.map(e => dataDir.resolve(e(0)).toString): _*)
        .filter(col("k").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sc"))
        .select(
          lit(entries.size.toLong).as("n_files_total"),
          lit(hit.size.toLong).as("n_files_read"),
          col("n_rows"),
          (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               ${graft.queries.Det.centsSql("o_totalprice")} AS c
        FROM orders
      ), mk AS (
        SELECT max(k) AS m FROM base
      ), spans AS (
        -- the pruning arithmetic, recomputed: a span is read iff it
        -- overlaps [m/3, 2m/3]
        SELECT (k * 8) // (m + 1) AS bucket,
               min(k) AS mn, max(k) AS mx
        FROM base, mk GROUP BY 1
      )
      SELECT (SELECT count(*) FROM spans) AS n_files_total,
             (SELECT count(*) FROM spans, mk
              WHERE mx >= m // 3 AND mn <= (2 * m) // 3) AS n_files_read,
             count(*) AS n_rows,
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100 AS sum_value
      FROM base, mk
      WHERE k BETWEEN m // 3 AND (2 * m) // 3"""))

  /** Attempt to publish version `n` WITHOUT replacing an existing
    * manifest: the atomic-rename either claims the version or fails
    * because another writer got there first — the whole optimistic-
    * concurrency primitive in one filesystem guarantee. */
  private[graft] def tryCommitManifest(root: java.nio.file.Path, n: Int,
      entries: Seq[String]): Boolean = {
    val staged = root.resolve(s".v$n.attempt${System.nanoTime()}.tmp")
    Files.writeString(staged, entries.mkString("\n") + "\n")
    try {
      // hard-link claim: link(2) fails EEXIST ATOMICALLY, unlike a
      // no-replace move (which is check-then-rename — two racers could
      // both pass the check and the second rename silently wins)
      Files.createLink(root.resolve(s"v$n.manifest.tsv"), staged)
      Files.delete(staged)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(staged); false
    }
  }

  /** Current head version of a store (0 if none committed yet). */
  private[graft] def headVersion(root: java.nio.file.Path): Int =
    Iterator.from(1)
      .takeWhile(n => Files.exists(root.resolve(s"v$n.manifest.tsv")))
      .size

  /** Optimistic append with rebase-on-conflict: read the head, attempt
    * head+1, and on a lost race re-read and retry (append-only commits
    * are always compatible, so the rebase is just "new base + my
    * files"). Returns (committed version, conflicts survived). */
  private[graft] def commitWithRetry(root: java.nio.file.Path,
      newFiles: Seq[String]): (Int, Int) = {
    var conflicts = 0
    while (true) {
      val head = headVersion(root)
      val base = if (head == 0) Seq.empty else readManifest(root, head)
      if (tryCommitManifest(root, head + 1, base ++ newFiles))
        return (head + 1, conflicts)
      conflicts += 1
    }
    sys.error("unreachable")
  }

  /** q258: OPTIMISTIC CONCURRENCY CONTROL on the snapshot store — the
    * multi-writer half of the commit protocol (Iceberg/Delta OCC
    * shape): writers never lock; each stages its data files, then
    * tries to claim head+1 with a NO-REPLACE atomic rename. The loser
    * of a race gets a filesystem-level conflict, re-reads the new
    * head, REBASES (append-only commits are always compatible — the
    * rebase is just the new base manifest plus its own files), and
    * retries. The fixture run stages the deterministic worst case:
    * two writers both read head v1, writer A claims v2, writer B's v2
    * attempt fails and lands as v3 after one rebase. The oracle
    * recomputes the final table and the version/conflict ledger from
    * orders: a pass proves no append lost, none double-applied, and
    * the history linearized. The spec adds a genuinely CONCURRENT
    * 8-thread race and asserts the same invariants (conflict COUNT is
    * scheduling-dependent there, correctness is not). At 100 TB this
    * is what lets independent ingest jobs share one table with no
    * coordination service beyond atomic rename — the property object
    * stores had to add (S3 conditional PUT) precisely because table
    * formats need it. */
  val q258 = Q(
    "q258_optimistic_concurrency",
    (s, d) => {
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          graft.queries.Det.cents(col("o_totalprice")).as("c"))
      val (fn, fsk, fsc, mk) = ordersFingerprint(s, d)
      val (cut1, cut2) = (mk / 3, 2 * mk / 3)
      val root = Paths.get(tmp(
        s"orders_occ_${d.replaceAll("[^0-9.]", "")}_${fn}_${fsk}_$fsc"))
      val dataDir = root.resolve("data")
      val ledger = root.resolve("occ.log.tsv")
      withStoreLock(root.toString) {
        if (!Files.exists(ledger)) {
          Files.createDirectories(dataDir)
          val base = orders.withColumn("bucket", col("k") % 4)
          val v1 = snapshotAppend(base.filter(col("k") <= cut1),
            dataDir, "base")
          require(tryCommitManifest(root, 1, v1), "fresh store had a v1")
          // both writers stage against head v1...
          val filesA = snapshotAppend(
            base.filter(col("k") > cut1 && col("k") <= cut2), dataDir, "wa")
          val filesB = snapshotAppend(
            base.filter(col("k") > cut2), dataDir, "wb")
          val staleBase = readManifest(root, 1)
          // ...writer A claims v2 first
          require(tryCommitManifest(root, 2, staleBase ++ filesA))
          // writer B's stale attempt MUST fail, then rebase lands as v3
          val bStale = tryCommitManifest(root, 2, staleBase ++ filesB)
          require(!bStale, "conflicting commit was not detected")
          val (vB, extraConflicts) = commitWithRetry(root, filesB)
          atomicPublish(root, "occ.log.tsv",
            s"versions\t${headVersion(root)}\nconflicts\t${
              1 + extraConflicts}\nwriter_b_version\t$vB\n")
        }
      }
      import scala.jdk.CollectionConverters._
      val log = Files.readAllLines(ledger).asScala.filter(_.nonEmpty)
        .map(_.split("\t")).map(e => e(0) -> e(1).toLong).toMap
      readFiles(s, dataDir, readManifest(root, headVersion(root))).get
        .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sc"))
        .select(
          lit(log("versions")).as("n_versions"),
          lit(log("conflicts")).as("n_conflicts"),
          col("n_rows"),
          (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
    },
    Some(s"""
      SELECT CAST(3 AS BIGINT) AS n_versions,
             CAST(1 AS BIGINT) AS n_conflicts,
             count(*) AS n_rows,
             CAST(CAST(sum(${graft.queries.Det.centsSql("o_totalprice")})
               AS BIGINT) AS DOUBLE) / 100 AS sum_value
      FROM orders"""))

  /** q264: METADATA-ONLY aggregation — the lakehouse capability where
    * `SELECT count(*), sum(x) GROUP BY partition` never touches a data
    * file: per-file row counts and exact column sums are measured ONCE
    * at write time (a cent-sum is an exact BIGINT, so it aggregates
    * the aggregates losslessly — the q154 merge law applied to file
    * stats) and recorded in the manifest; the query reads the KB-sized
    * manifest and re-aggregates 8 stat rows. The oracle recomputes
    * everything from the original orders table, so a pass proves the
    * written stats faithful to the written data — which is exactly the
    * guarantee a planner needs before trusting manifests for
    * cost-based decisions (q243/q257 prune with them; this op ANSWERS
    * from them). At 100 TB the difference is a full scan versus a
    * manifest read — the reason every table format ships it. AVG and
    * other non-additive aggregates still need the scan; only
    * merge-law-bearing stats (counts, exact sums, min/max) live here,
    * and that boundary is the design point. */
  val q264 = Q(
    "q264_metadata_only_agg",
    (s, d) => {
      import s.implicits._
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          graft.queries.Det.cents(col("o_totalprice")).as("c"))
      val (fn, fsk, fsc, mk) = ordersFingerprint(s, d)
      val root = Paths.get(tmp(
        s"orders_meta_${d.replaceAll("[^0-9.]", "")}_${fn}_${fsk}_$fsc"))
      val dataDir = root.resolve("data")
      val manifest = root.resolve("meta.manifest.tsv")
      withStoreLock(root.toString) {
        if (!Files.exists(manifest)) {
          Files.createDirectories(dataDir)
          orders.withColumn("bucket", expr(s"k * 8 div ${mk + 1}"))
            .repartition(1).sortWithinPartitions(col("k"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(dataDir.resolve("r").toString)
          // stats measured PER FILE (input_file_name), never per
          // bucket: a bucket that ever splits into two files would
          // otherwise carry its full stats on BOTH manifest lines and
          // the metadata-only answer would silently double (r7 review)
          val stats = s.read.parquet(dataDir.resolve("r").toString)
            .groupBy(input_file_name().as("f"),
              col("bucket").cast(LongType).as("bucket"))
            .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
            .collect()
            // key by bucket=N/basename: ONE task writes every bucket's
            // file under the SAME basename (shared task uuid), so the
            // basename alone collides across buckets — the partition
            // dir disambiguates; input_file_name's URI prefix differs
            // from the relative path, hence suffix keying
            .map(r => r.getString(0).split("/").takeRight(2).mkString("/")
              -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
          val lines = listParquet(dataDir, "r").map { p =>
            val (b, n, sc) = stats(p.split("/").takeRight(2).mkString("/"))
            s"$p\t$b\t$n\t$sc"
          }
          require(lines.size == stats.size,
            "stats pass and file listing disagree on the file set")
          atomicPublish(root, "meta.manifest.tsv",
            lines.mkString("\n") + "\n")
        }
      }
      import scala.jdk.CollectionConverters._
      // the whole aggregate, answered WITHOUT opening a data file
      val entries = Files.readAllLines(manifest).asScala
        .filter(_.nonEmpty).map(_.split("\t"))
        .map(e => (e(1).toLong, e(2).toLong, e(3).toLong)).toSeq
      entries.toDF("bucket", "n", "sc")
        .groupBy(col("bucket"))
        .agg(sum(col("n")).as("n_rows"),
          (sum(col("sc")).cast(DoubleType) / lit(100.0)).as("sum_value"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               ${graft.queries.Det.centsSql("o_totalprice")} AS c
        FROM orders
      ), mk AS (
        SELECT max(k) AS m FROM base
      )
      SELECT (k * 8) // (m + 1) AS bucket, count(*) AS n_rows,
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100 AS sum_value
      FROM base, mk
      GROUP BY 1
      ORDER BY bucket"""))

  /** q266: CDC-DRIVEN incremental view maintenance — q154 proved the
    * aggregate merge law in the abstract; this runs it against the
    * snapshot store's ACTUAL change feed: a per-status summary "stored"
    * at version N is advanced to version N+1 by folding in ONLY the
    * manifest symmetric difference (q251's pruning — shared files are
    * immutable and contribute zero delta), as signed delta rows
    * (+row/+cents for the to-side, −row/−cents for the from-side of
    * each hot file). v1→v2 exercises the append case, v2→v3 the
    * copy-on-write update (row deltas cancel, cent deltas remain).
    * The oracle recomputes both maintained summaries STRAIGHT from
    * orders — equality proves delta-maintenance exact, which is the
    * whole contract of an incrementally-maintained MV. At 100 TB the
    * refresh bill becomes O(changed files), not O(table) — the reason
    * warehouses pair MVs with change feeds instead of re-running the
    * view. Counts and cents stay exact integers until the final
    * division. */
  val q266 = Q(
    "q266_cdc_view_maintenance",
    (s, d) => {
      val (_, dataDir, m) = ensureSnapshotStore(s, d)
      def summaryOf(files: Seq[String]): DataFrame =
        readFiles(s, dataDir, files).get
          .groupBy(col("st"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("cents"))
      def maintain(tag: String, from: Seq[String], to: Seq[String])
          : DataFrame = {
        val shared = from.toSet & to.toSet
        def signed(files: Seq[String], sign: Long): Option[DataFrame] =
          readFiles(s, dataDir, files).map(
            _.select(col("st"), lit(sign).as("dn"),
              (col("c") * sign).as("dc")))
        val deltas = Seq(
          signed(to.filterNot(shared), 1L),
          signed(from.filterNot(shared), -1L)).flatten
        val delta = deltas.reduce(_ unionAll _)
          .groupBy(col("st"))
          .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"))
        summaryOf(from).join(delta, Seq("st"), "full_outer")
          .select(
            lit(tag).as("to_version"), col("st"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_rows"),
            ((coalesce(col("cents"), lit(0L)) +
              coalesce(col("dc"), lit(0L))).cast(DoubleType) / lit(100.0))
              .as("sum_value"))
      }
      maintain("v2", m(1), m(2))
        .unionAll(maintain("v3", m(2), m(3)))
        .orderBy(col("to_version"), col("st"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               ${graft.queries.Det.centsSql("o_totalprice")} AS c
        FROM orders
      )
      SELECT 'v2' AS to_version, st, count(*) AS n_rows,
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100 AS sum_value
      FROM base GROUP BY st
      UNION ALL
      SELECT 'v3', st, count(*),
             CAST(CAST(sum(CASE WHEN k % 4 = 3 THEN c + 100 ELSE c END)
               AS BIGINT) AS DOUBLE) / 100
      FROM base GROUP BY st
      ORDER BY to_version, st"""))

  /** q269: GDPR ERASE (right-to-be-forgotten) — the two-phase deletion
    * discipline a lakehouse owes a privacy regime, composed from parts
    * already proven here: (1) LOGICAL erase lands immediately as an
    * equality-delete commit (q253's shape — O(erased) write, queries
    * stop returning the subjects at once); (2) PHYSICAL purge follows
    * on the maintenance cadence: a compaction rewrite without the
    * erased rows (q255), then expiry of every prior version and a
    * ledger-audited vacuum of their files (q256) — including the
    * delete file itself, which is PII once the data is gone. The
    * report's third row is the part auditors actually want: a direct
    * scan of EVERY parquet file still under the store (bypassing
    * manifests — trusting them would be circular) counting erased
    * keys, which must be zero. This store's lifecycle deliberately
    * ENDS at the purge (v5 is the only version left; time travel to
    * pre-erase states is exactly what must die), so the build gates on
    * the erase ledger, not the snapshot chain. The oracle recomputes
    * the requested set and the survivor table from orders. */
  val q269 = Q(
    "q269_gdpr_erase",
    (s, d) => {
      val (fn, fsk, fsc, _) = ordersFingerprint(s, d)
      val root = Paths.get(tmp(
        s"orders_gdpr_${d.replaceAll("[^0-9.]", "")}_${fn}_${fsk}_$fsc"))
      val dataDir = root.resolve("data")
      val ledger = root.resolve("erase.log.tsv")
      withStoreLock(root.toString) {
        if (!Files.exists(ledger)) {
          val (_, _, m0) = ensureSnapshotStore(s, d, "gdpr")
          val v3 = readFiles(s, dataDir, m0(3)).get
          val req = v3.filter(col("k") % 7 === 0)
            .agg(count(lit(1)).as("n"), sum(col("c")).as("sc")).head()
          // phase 1 — logical: equality-delete commit, effective NOW
          v3.filter(col("k") % 7 === 0).select(col("k"))
            .repartition(1).write.mode("overwrite")
            .parquet(dataDir.resolve("erase_keys").toString)
          commitManifest(root, 4, m0(3) ++
            listParquet(dataDir, "erase_keys").map("delete:" + _))
          // phase 2 — physical: rewrite without the erased rows...
          val live = v3.join(
            broadcast(s.read.parquet(
              dataDir.resolve("erase_keys").toString)),
            Seq("k"), "left_anti")
          commitManifest(root, 5, snapshotAppend(
            live.withColumn("bucket", col("k") % 4), dataDir, "purged"))
          // ...then expire everything earlier and vacuum its files
          val keep = readManifest(root, 5).toSet
          val dead = Seq("a", "b", "c", "crashed", "erase_keys")
            .filter(sub => Files.exists(dataDir.resolve(sub)))
            .flatMap(listParquet(dataDir, _))
            .filterNot(keep)
          val lines =
            (1 to 4).map(n => s"manifest\tv$n.manifest.tsv") ++
              dead.map(f => s"file\t$f") :+
              s"requested\t${req.getLong(0)}\t${req.getLong(1)}"
          atomicPublish(root, "erase.log.tsv", lines.mkString("\n") + "\n")
        }
        // purge replays idempotently FROM the ledger (q256 discipline)
        import scala.jdk.CollectionConverters._
        val entries = Files.readAllLines(ledger).asScala
          .filter(_.nonEmpty).map(_.split("\t").toSeq)
        entries.collect { case Seq("manifest", f) => f }
          .foreach(f => Files.deleteIfExists(root.resolve(f)))
        entries.collect { case Seq("file", f) => f }
          .foreach(f => Files.deleteIfExists(dataDir.resolve(f)))
      }
      import scala.jdk.CollectionConverters._
      val entries = Files.readAllLines(ledger).asScala
        .filter(_.nonEmpty).map(_.split("\t").toSeq)
      val req = entries.find(_.headOption.contains("requested")).get
      val v5 = readManifest(root, 5)
      // the auditor's row: scan EVERY file still present, manifest-free
      val remaining = Seq("a", "b", "c", "crashed", "erase_keys", "purged")
        .filter(sub => Files.exists(dataDir.resolve(sub)))
        .flatMap(listParquet(dataDir, _))
      val requestedRow = s.range(1).select(
        lit("requested").as("stage"), lit(1L).as("n_files"),
        lit(req(1).toLong).as("n_rows"),
        lit(req(2).toLong / 100.0).as("sum_value"))
      val liveRow = readFiles(s, dataDir, v5).get
        .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sc"))
        .select(lit("v5_live").as("stage"),
          lit(v5.size.toLong).as("n_files"), col("n_rows"),
          (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
      val scanRow = readFiles(s, dataDir, remaining).get
        .filter(col("k") % 7 === 0)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("c")), lit(0L)).as("sc"))
        .select(lit("physical_scan").as("stage"),
          lit(remaining.size.toLong).as("n_files"), col("n_rows"),
          (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
      requestedRow.unionAll(liveRow).unionAll(scanRow)
        .orderBy(col("stage"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 4 = 3
                    THEN ${graft.queries.Det.centsSql("o_totalprice")} + 100
                    ELSE ${graft.queries.Det.centsSql("o_totalprice")}
               END AS c
        FROM orders
      )
      SELECT 'physical_scan' AS stage, CAST(4 AS BIGINT) AS n_files,
             CAST(0 AS BIGINT) AS n_rows, 0.0 AS sum_value
      UNION ALL
      SELECT 'requested', 1, count(*),
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100
      FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT 'v5_live', 4, count(*),
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100
      FROM base WHERE k % 7 <> 0
      ORDER BY stage"""))

  /** q270: MULTI-TABLE atomic transactions — the consistency level a
    * per-table format cannot give (Iceberg/Delta commit one table at a
    * time; cross-table atomicity needs a transactional CATALOG — the
    * Nessie/lakehouse-catalog argument) built from the same primitives:
    * each transaction appends to BOTH tables (orders-derived t1,
    * lineitem-derived t2, stamped with the txn's batch number), table
    * manifests publish per table, and then ONE catalog file — the only
    * commit point — atomically names the (table → version) pair.
    * The fixture stages the failure that motivates all of it: txn 3
    * writes t1's data files AND t1's table manifest, then dies before
    * the catalog commit. A catalog reader still sees the consistent
    * (t1 v2, t2 v2) pair; a NAIVE latest-table-version reader sees
    * t1 at batch 3 beside t2 at batch 2 — the torn state, reported
    * with consistent=false as the row that shows what the catalog is
    * for. Consistency is MEASURED from data (max batch stamp per
    * side), not asserted. The oracle recomputes every row count and
    * batch stamp from orders/lineitem. */
  val q270 = Q(
    "q270_multi_table_txn",
    (s, d) => {
      val (fn, fsk, fsc, fmk) = ordersFingerprint(s, d)
      val cut = fmk * 3 / 5
      val root = Paths.get(tmp(
        s"orders_txn_${d.replaceAll("[^0-9.]", "")}_${fn}_${fsk}_$fsc"))
      val dataDir = root.resolve("data")
      def tmanifest(t: String, v: Int) = s"$t.v$v.manifest.tsv"
      withStoreLock(root.toString) {
        if (!Files.exists(root.resolve(tmanifest("t1", 3)))) {
          Files.createDirectories(dataDir)
          val t1 = Tables.load(s, d, "orders")
            .select(col("o_orderkey").as("k"),
              graft.queries.Det.cents(col("o_totalprice")).as("c"))
          val t2 = Tables.load(s, d, "lineitem")
            .select(col("l_orderkey").as("k"),
              graft.queries.Det.cents(col("l_extendedprice")).as("c"))
          def append(t: String, df: DataFrame, batch: Int, sub: String)
              : Seq[String] = snapshotAppend(
            df.withColumn("batch", lit(batch.toLong))
              .withColumn("bucket", col("k") % 4),
            dataDir, s"$t/$sub")
          // txn 1: both tables, one catalog commit
          val t1a = append("t1", t1.filter(col("k") <= cut), 1, "a")
          val t2a = append("t2", t2.filter(col("k") <= cut), 1, "a")
          atomicPublish(root, tmanifest("t1", 1), t1a.mkString("\n") + "\n")
          atomicPublish(root, tmanifest("t2", 1), t2a.mkString("\n") + "\n")
          atomicPublish(root, "c1.catalog.tsv", "t1\t1\nt2\t1\n")
          // txn 2
          val t1b = append("t1", t1.filter(col("k") > cut), 2, "b")
          val t2b = append("t2", t2.filter(col("k") > cut), 2, "b")
          atomicPublish(root, tmanifest("t1", 2),
            (t1a ++ t1b).mkString("\n") + "\n")
          atomicPublish(root, tmanifest("t2", 2),
            (t2a ++ t2b).mkString("\n") + "\n")
          atomicPublish(root, "c2.catalog.tsv", "t1\t2\nt2\t2\n")
          // txn 3 DIES between the table manifest and the catalog:
          // t1 advances, t2 and the catalog never hear of it
          val t1c = append("t1", t1.filter(col("k") % 17 === 0), 3, "torn")
          atomicPublish(root, tmanifest("t1", 3),
            (t1a ++ t1b ++ t1c).mkString("\n") + "\n")
        }
      }
      import scala.jdk.CollectionConverters._
      def manifestFiles(name: String): Seq[String] =
        Files.readAllLines(root.resolve(name)).asScala.toSeq
          .filter(_.nonEmpty)
      def catalogPair(n: Int): Map[String, Int] =
        Files.readAllLines(root.resolve(s"c$n.catalog.tsv")).asScala
          .filter(_.nonEmpty).map(_.split("\t"))
          .map(e => e(0) -> e(1).toInt).toMap
      def stats(name: String) =
        readFiles(s, dataDir, manifestFiles(name)).get
          .agg(count(lit(1)).as("n"), max(col("batch")).as("mb")).head()
      def row(tag: String, t1v: Int, t2v: Int): DataFrame = {
        val (a, b) = (stats(tmanifest("t1", t1v)), stats(tmanifest("t2", t2v)))
        s.range(1).select(
          lit(tag).as("commit"), lit(a.getLong(0)).as("t1_rows"),
          lit(b.getLong(0)).as("t2_rows"),
          lit(a.getLong(1) == b.getLong(1)).as("consistent"))
      }
      val c1 = catalogPair(1); val c2 = catalogPair(2)
      row("c1", c1("t1"), c1("t2"))
        .unionAll(row("c2", c2("t1"), c2("t2")))
        // the naive reader: latest TABLE versions, no catalog
        .unionAll(row("head_tables", 3, 2))
        .orderBy(col("commit"))
    },
    Some(s"""
      WITH cut AS (
        SELECT max(o_orderkey) * 3 // 5 AS c FROM orders
      )
      SELECT 'c1' AS commit,
             (SELECT count(*) FROM orders, cut WHERE o_orderkey <= c)
               AS t1_rows,
             (SELECT count(*) FROM lineitem, cut WHERE l_orderkey <= c)
               AS t2_rows,
             true AS consistent
      UNION ALL
      SELECT 'c2', (SELECT count(*) FROM orders),
             (SELECT count(*) FROM lineitem), true
      UNION ALL
      SELECT 'head_tables',
             (SELECT count(*) FROM orders)
               + (SELECT count(*) FROM orders WHERE o_orderkey % 17 = 0),
             (SELECT count(*) FROM lineitem), false
      ORDER BY commit"""))

  /** q272: PER-FILE BLOOM-FILTER skipping from a stats manifest — the
    * point-lookup complement of q257's zone maps. The layout is
    * range-clustered by ORDER key (q257's build), so a min/max zone map
    * is useless for a CUSTOMER-key probe: every file spans the full
    * custkey domain. Table formats answer this with per-file bloom
    * filters (Parquet bloom indexes, ClickHouse `bloom_filter` granules
    * — the reference's own schema uses the latter,
    * /root/reference/clickhouse/schema.sql): at write time each file's
    * distinct custkeys are folded into one 8 KB [[graft.functions.
    * BloomMd5]] word array recorded in the manifest; a point probe tests
    * 4 md5-derived bits per file DRIVER-SIDE and schedules reads only
    * for files that pass. No false negatives by construction (the spec's
    * invariant); false positives cost one wasted file read, bounded by
    * the sketch's FP rate at the file's key load. Probes: the 3 smallest
    * distinct custkeys ending in 7 (each hits only the files its orders
    * landed in) plus one key provably absent from every file (max+7 —
    * all 8 blooms reject it, zero files read, the empty-result fast
    * path). The ORACLE recomputes the bucket assignment, replays every
    * bloom WORD with bit_or and every probe bit-exactly (the q80
    * discipline, now per-file), and recomputes the answers from the
    * original table — agreement proves the skipped files held nothing.
    * At 100 TB bloom skipping is what makes needle-in-haystack lookups
    * on NON-layout keys planning-cost cheap: the manifest is KBs, the
    * alternative is a full scan. */
  val q272 = Q(
    "q272_bloom_skipping",
    (s, d) => {
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
          graft.queries.Det.cents(col("o_totalprice")).as("c"))
      val (fn, fsk, fsc, mk) = ordersFingerprint(s, d)
      val root = Paths.get(tmp(
        s"orders_bf_${d.replaceAll("[^0-9.]", "")}_${fn}_${fsk}_$fsc"))
      val dataDir = root.resolve("data")
      val manifest = root.resolve("bloom.manifest.tsv")
      withStoreLock(root.toString) {
        if (!Files.exists(manifest)) {
          Files.createDirectories(dataDir)
          orders.withColumn("bucket", expr(s"k * 8 div ${mk + 1}"))
            .repartition(1).sortWithinPartitions(col("k"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(dataDir.resolve("r").toString)
          // per-file blooms measured from the WRITTEN files (the q257
          // true-stats rule); 8 buckets × 1024 words is a bounded
          // driver collect
          val blooms = s.read.parquet(dataDir.resolve("r").toString)
            .groupBy(col("bucket").cast(LongType).as("bucket"))
            .agg(graft.functions.BloomMd5
              .sketch(col("ck").cast(StringType)).as("bloom"))
            .collect()
            .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
          val lines = listParquet(dataDir, "r").map { p =>
            val b = p.split("/").find(_.startsWith("bucket="))
              .get.stripPrefix("bucket=").toLong
            s"$p\t$b\t" +
              blooms(b).map(java.lang.Long.toHexString).mkString(",")
          }
          atomicPublish(root, "bloom.manifest.tsv",
            lines.mkString("\n") + "\n")
        }
      }
      import scala.jdk.CollectionConverters._
      val entries = Files.readAllLines(manifest).asScala
        .filter(_.nonEmpty).map(_.split("\t")).toSeq
      val words = entries.map(e =>
        e(0) -> e(2).split(",").map(java.lang.Long.parseUnsignedLong(_, 16)))
      def pass(w: Array[Long], key: String): Boolean =
        (0 until graft.functions.BloomMd5.K).forall { h =>
          val p = graft.functions.BloomMd5.bitPos(h, key)
          ((w(p >>> 6) >>> (p & 63)) & 1L) != 0
        }
      val probes = orders.select(col("ck"))
        .filter(col("ck") % 10 === 7).distinct()
        .orderBy(col("ck")).limit(3)
        .collect().map(_.getLong(0)).toSeq :+
        (orders.agg(max(col("ck"))).head().getLong(0) + 7)
      probes.map { p =>
        val hit = words.filter(e => pass(e._2, p.toString)).map(_._1)
        val base =
          if (hit.isEmpty)
            s.range(1).select(lit(0L).as("n_orders"), lit(0L).as("sc"),
              lit(0L).as("nf"))
          else
            s.read.parquet(
              hit.map(f => dataDir.resolve(f).toString): _*)
              .filter(col("ck") === p)
              .agg(count(lit(1)).as("n_orders"),
                coalesce(sum(col("c")), lit(0L)).as("sc"),
                countDistinct(expr(s"k * 8 div ${mk + 1}")).as("nf"))
        base.select(
          lit(p).as("probe_ck"),
          lit(entries.size.toLong).as("n_files_total"),
          lit(hit.size.toLong).as("n_files_read"),
          col("nf").as("n_files_exact"),
          col("n_orders"),
          (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
      }.reduce(_ unionAll _).orderBy(col("probe_ck"))
    },
    Some {
      import graft.queries.Olap.bloomPosDuck
      val mask = (p: String) =>
        s"(CASE WHEN $p % 64 = 63 THEN (-9223372036854775807 - 1) " +
          s"ELSE (CAST(1 AS BIGINT) << ($p % 64)) END)"
      val bpos = (0 until graft.functions.BloomMd5.K).map { h =>
        s"SELECT bucket, ${bloomPosDuck(h, "CAST(ck AS VARCHAR)")} AS p " +
          "FROM keys"
      }.mkString(" UNION ALL ")
      val ppos = (0 until graft.functions.BloomMd5.K).map { h =>
        s"SELECT pk, ${bloomPosDuck(h, "CAST(pk AS VARCHAR)")} AS p " +
          "FROM probes"
      }.mkString(" UNION ALL ")
      s"""
      WITH base AS (
        SELECT o_orderkey AS k, o_custkey AS ck,
               ${graft.queries.Det.centsSql("o_totalprice")} AS c
        FROM orders
      ), mk AS (
        SELECT max(k) AS m, max(ck) AS mc FROM base
      ), bk AS (
        SELECT k, ck, c, (k * 8) // (m + 1) AS bucket FROM base, mk
      ), keys AS (
        SELECT DISTINCT bucket, ck FROM bk
      ), bpos AS ( $bpos
      ), words AS (
        SELECT bucket, p // 64 AS w, bit_or(${mask("p")}) AS word
        FROM bpos GROUP BY 1, 2
      ), probes AS (
        SELECT ck AS pk FROM (
          SELECT DISTINCT ck FROM base WHERE ck % 10 = 7
          ORDER BY ck LIMIT 3)
        UNION ALL
        SELECT mc + 7 FROM mk
      ), ppos AS ( $ppos
      ), hits AS (
        SELECT pp.pk, w.bucket, count(*) AS nset
        FROM ppos pp JOIN words w ON w.w = pp.p // 64
        WHERE (w.word & ${mask("pp.p")}) <> 0
        GROUP BY pp.pk, w.bucket
      ), cand AS (
        SELECT pk, bucket FROM hits
        WHERE nset = ${graft.functions.BloomMd5.K}
      )
      SELECT pr.pk AS probe_ck,
             (SELECT count(DISTINCT bucket) FROM bk) AS n_files_total,
             (SELECT count(*) FROM cand c WHERE c.pk = pr.pk)
               AS n_files_read,
             (SELECT count(DISTINCT bucket) FROM bk WHERE ck = pr.pk)
               AS n_files_exact,
             (SELECT count(*) FROM bk WHERE ck = pr.pk) AS n_orders,
             CAST(CAST(coalesce((SELECT sum(c) FROM bk WHERE ck = pr.pk),
               0) AS BIGINT) AS DOUBLE) / 100 AS sum_value
      FROM probes pr ORDER BY probe_ck"""
    })

  /** The serve half of q284, separated so the spec can pin partition
    * pruning on its own queryExecution: each generation is read under
    * ITS OWN partition spec — gen1 with a month-key IN list, gen2 with
    * a day-key range — then the union aggregates in the common month
    * grain. A reader that applied the month predicate to the day-
    * partitioned generation (or vice versa) would read every partition;
    * this split is exactly what Iceberg-style partition-spec evolution
    * requires of scan planning. */
  def partitionEvolutionQuery(
      s: SparkSession, g1: String, g2: String, py: Int): DataFrame = {
    val gen1 = s.read.parquet(g1)
      .filter(col("ym").isin((py - 1) * 100 + 11, (py - 1) * 100 + 12))
      .select(col("ym"), col("l_extendedprice"))
    val gen2 = s.read.parquet(g2)
      .filter(col("ymd").between(py * 10000 + 101, py * 10000 + 299))
      .select(expr("CAST(ymd div 100 AS INT)").as("ym"),
        col("l_extendedprice"))
    gen1.unionByName(gen2)
      .groupBy(col("ym"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Det.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("ym"))
  }

  /** q284: PARTITION-SPEC EVOLUTION — the lakehouse table-format
    * capability (Iceberg spec §Partition Evolution) that q97's column
    * evolution left uncovered: a table's partitioning CHANGES over its
    * life (here month-grain history → day-grain current year, the
    * classic "we grew and months got too big" migration), old data is
    * NOT rewritten, and queries spanning the boundary must prune each
    * generation under the spec it was written with. The layout is
    * build-once (`_SPEC_SUCCESS` written LAST covers the PAIR of
    * generations — one generation committed alone is invisible, the
    * q238 torn-store discipline), content-keyed by fixture stats, with
    * a manifest recording generation → directory → spec. The query
    * window is fixture-derived (months around the pivot-year boundary
    * — the de-calibration rule), the revenue aggregate is exact
    * decimal, and the oracle computes the same window straight off the
    * original table — a pass proves the two-generation layout lost no
    * rows and pruned correctly. The spec pins PartitionFilters + the
    * partition-count cut on BOTH scans. Scale: this is precisely the
    * operation that keeps decade-old history readable without a
    * petabyte rewrite when partition grain changes. */
  val q284 = Q(
    "q284_partition_evolution",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val st = li.agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("so"),
        max(col("l_shipdate")).as("mx")).head()
      val py = st.getAs[java.time.LocalDateTime]("mx").getYear
      val root = tmp(s"lineitem_pspec_${d.replaceAll("[^0-9.]", "")}_" +
        s"${st.getLong(0)}_${st.getLong(1)}_$py")
      val (g1, g2) = (s"$root/gen1_month", s"$root/gen2_day")
      if (!Files.exists(Paths.get(root, "_SPEC_SUCCESS"))) {
        li.filter(year(col("l_shipdate")) < py)
          .withColumn("ym",
            (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
              .cast(IntegerType))
          .write.mode("overwrite").partitionBy("ym").parquet(g1)
        li.filter(year(col("l_shipdate")) >= py)
          .withColumn("ymd",
            (year(col("l_shipdate")) * 10000
              + month(col("l_shipdate")) * 100
              + dayofmonth(col("l_shipdate"))).cast(IntegerType))
          .write.mode("overwrite").partitionBy("ymd").parquet(g2)
        // the manifest IS the commit marker: spec metadata lands in the
        // same atomic write that makes the pair-of-generations visible
        Files.write(Paths.get(root, "_SPEC_SUCCESS"),
          s"""{"generations":[
             |{"dir":"gen1_month","spec":"month(l_shipdate)","max_year":${py - 1}},
             |{"dir":"gen2_day","spec":"day(l_shipdate)","min_year":$py}]}
             |""".stripMargin.getBytes("UTF-8"))
      }
      partitionEvolutionQuery(s, g1, g2, py)
    },
    Some(s"""
      WITH py AS (
        SELECT CAST(EXTRACT(year FROM max(l_shipdate)) AS INTEGER) AS y
        FROM lineitem
      ), base AS (
        SELECT CAST(EXTRACT(year FROM l_shipdate) * 100
                    + EXTRACT(month FROM l_shipdate) AS INTEGER) AS ym,
               l_extendedprice
        FROM lineitem
      )
      SELECT ym, count(*) AS n,
             ${graft.queries.Det.dsumSql("l_extendedprice")} AS revenue
      FROM base, py
      WHERE ym IN ((py.y - 1) * 100 + 11, (py.y - 1) * 100 + 12,
                   py.y * 100 + 1, py.y * 100 + 2)
      GROUP BY ym ORDER BY ym"""))

  /** q286: SNAPSHOT ROLLBACK — the recovery half of time travel (Iceberg
    * `rollback_to_snapshot`): a bad commit (v3's update) is undone by
    * committing a NEW version v4 whose manifest is byte-for-byte v2's —
    * a metadata-only operation. Nothing is deleted: v3 stays readable
    * (time travel through the rollback), the history both directions is
    * intact, and an atomically-published ledger records the rollback as
    * an audited event, the q256 discipline. The latest-version resolve
    * then serves v2's content. Runs on its OWN store clone (kind "rb",
    * like q256's "vac") so the shared q248 store never observes a v4.
    * The oracle recomputes v3 (post-update) and v4/latest (pre-update)
    * stats straight off the orders table — a pass proves the rollback
    * restored EXACTLY the old content while leaving the rolled-back
    * version intact. Scale: at 100 TB rollback is one manifest rename —
    * zero data movement — which is exactly why manifest-based formats
    * can undo a petabyte-scale bad write in milliseconds. */
  val q286 = Q(
    "q286_snapshot_rollback",
    (s, d) => {
      val (root, dataDir, manifests) = ensureSnapshotStore(s, d, "rb")
      withStoreLock(root.toString) {
        if (!Files.exists(root.resolve("v4.manifest.tsv"))) {
          val before = listParquet(dataDir, "").size
          commitManifest(root, 4, manifests(2))
          atomicPublish(root, "rollback.json",
            s"""{"rolled_back_from":3,"restored":2,"as_version":4,""" +
              s""""data_files_before":$before}""" + "\n")
        }
      }
      val live = (1 to 9)
        .filter(n => Files.exists(root.resolve(s"v$n.manifest.tsv")))
      def snap(tag: String, files: Seq[String]): DataFrame =
        s.read.parquet(files.map(p => dataDir.resolve(p).toString): _*)
          .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sc"))
          .select(
            lit(tag).as("snapshot"),
            lit(files.size.toLong).as("n_files"),
            col("n_rows"),
            (col("sc").cast(DoubleType) / lit(100.0)).as("sum_value"))
      snap("v3", readManifest(root, 3))
        .unionAll(snap("v4", readManifest(root, 4)))
        .unionAll(snap("latest", readManifest(root, live.max)))
        .orderBy(col("snapshot"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               ${graft.queries.Det.centsSql("o_totalprice")} AS c
        FROM orders
      )
      SELECT 'latest' AS snapshot, CAST(8 AS BIGINT) AS n_files,
             count(*) AS n_rows,
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100 AS sum_value
      FROM base
      UNION ALL
      SELECT 'v3', 7, count(*),
             CAST(CAST(sum(CASE WHEN k % 4 = 3 THEN c + 100 ELSE c END)
               AS BIGINT) AS DOUBLE) / 100
      FROM base
      UNION ALL
      SELECT 'v4', 8, count(*),
             CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100
      FROM base
      ORDER BY snapshot"""))

  /** q306: XML ROUND-TRIP — the fourth text-format leg beside CSV (q17),
    * JSONL (q79) and ORC (q92), on Spark 4's BUILT-IN XML source (the
    * former spark-xml package, merged upstream): full orders table →
    * one `<order>` element per row under rowTag, → read back with an
    * explicit schema, full-row compare against the original via the
    * oracle. Doubles survive because Spark prints the shortest
    * round-tripping decimal repr; the timestamp travels as an explicit
    * microsecond string (the q17 discipline — format-specific temporal
    * encodings are where round-trips silently lose precision, so we
    * never delegate them to the format). Any XML-escaping mangling of
    * the status/priority strings diffs. Scale: both legs are plain
    * distributed scans/writes; XML is a per-row text codec, no
    * cross-row state. */
  val q306 = Q(
    "q306_xml_roundtrip",
    (s, d) => {
      val dir = tmp(s"orders_xml_${d.replaceAll("[^0-9.]", "")}")
      Tables.load(s, d, "orders")
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("od_str"),
          col("o_orderpriority"))
        .write.mode("overwrite").option("rowTag", "order").xml(dir)
      s.read
        .schema(StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("od_str", StringType),
          StructField("o_orderpriority", StringType))))
        .option("rowTag", "order")
        // the reader TRIMS surrounding whitespace by default (pinned in
        // IngestPipelineSpec) — lossless round-trips must turn that off
        .option("ignoreSurroundingSpaces", false)
        .xml(dir)
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          to_timestamp(col("od_str"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
             o_orderpriority
      FROM orders
      ORDER BY o_orderkey"""))

  val all: Seq[Q] =
    Seq(q17, q18, q19, q34, q57, q63, q79, q92, q97, q228, q243, q244,
      q248, q251, q252, q253, q255, q256, q257, q258, q264, q266, q269,
      q270, q272, q284, q286, q306)
}
