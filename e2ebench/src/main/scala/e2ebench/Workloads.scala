package e2ebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{count, lit}

import graft.{BenchScale, SparkEntry, Tables}
import graft.sources.{HttpCsv, IngestJob}

/** What one op hands back: the digest of its user-visible result, its
  * result row count, any failed in-op check, layer counters only the op
  * itself can see, and the table it wrote, if any. */
final case class Outcome(digest: String, rows: Long,
    problems: Seq[String] = Nil, extra: Map[String, Double] = Map.empty,
    output: String = "")

/** One kind of op, e.g. one registered query on one input. `input` is the
  * directory whose tables the oracle must read to check the result. */
abstract class Kind(val name: String, val input: String, val factRows: Long) {
  def run(spark: SparkSession, tracer: Tracer, op: Long): Outcome
  /** Completes the outcome's digest where that needs more engine work
    * than the op itself; runs outside the op's latency. */
  def check(spark: SparkSession, o: Outcome): Outcome = o
}

/** A registered query: DataFrame build (`queries`), physical planning
  * (`plans`, forced separately only when tracing) and a `collect` of every
  * output column (`exec`). */
final class QueryKind(name: String, input: String, factRows: Long)
    extends Kind(name, input, factRows) {
  private val build = SparkEntry.queries(name)

  def run(spark: SparkSession, t: Tracer, op: Long): Outcome = {
    val df = t.span(op, "queries", "build")(build(spark, input))
    if (t.on) t.span(op, "plans", "plan")(df.queryExecution.executedPlan)
    val rows = t.span(op, "exec", "collect")(df.collect())
    val extra =
      if (!t.on) Map.empty[String, Double]
      else {
        val (ex, bc) = Plans.exchanges(df.queryExecution.executedPlan)
        Map("plans.exchanges" -> ex.toDouble, "plans.broadcasts" -> bc.toDouble)
      }
    Outcome(Canon.digest(df.schema, rows), rows.length.toLong, extra = extra)
  }
}

object Plans {
  /** (shuffle exchanges, broadcast exchanges) in a physical plan, looking
    * through adaptive execution's final plan, query stages and
    * subqueries. A reused exchange is not counted twice. */
  def exchanges(root: SparkPlan): (Int, Int) = {
    var ex = 0
    var bc = 0
    def visit(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => ex += 1
        case _: BroadcastExchangeLike => bc += 1
        case _ =>
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      (p.children ++ inner ++ p.subqueries).foreach(visit)
    }
    visit(root)
    (ex, bc)
  }
}

/** One ingest: tolerant typed read of the CSV shards, then a parquet write
  * gated on the row count. Its check digests a read-back aggregate of the
  * written table (the oracle runs the same SQL over the source table in
  * `srcDir`). */
final class IngestKind(srcDir: String, csvDir: String,
    schema: org.apache.spark.sql.types.StructType,
    cleanRows: Long, injected: Long, csvBytes: Long, outRoot: String,
    readbackSql: String)
    extends Kind("ingest", srcDir, cleanRows + injected) {

  override def check(spark: SparkSession, o: Outcome): Outcome = {
    spark.read.parquet(o.output).createOrReplaceTempView("ingested")
    val df = spark.sql(readbackSql.replace("{table}", "ingested"))
    val rows = df.collect()
    Disk.deleteTree(Paths.get(o.output))
    o.copy(digest = Canon.digest(df.schema, rows), rows = rows.length.toLong)
  }

  def run(spark: SparkSession, t: Tracer, op: Long): Outcome = {
    val out = s"$outRoot/op_$op"
    val (clean, bad) = t.span(op, "sources", "read_csv")(
      HttpCsv.readCsvTolerant(spark, csvDir, schema, maxErrors = 1000))
    val seen = t.span(op, "sources", "write")(
      IngestJob.gatedParquetWrite(clean, out,
        Seq("rows" -> count(lit(1))),
        Map("rows" -> ((v: Any) => v == cleanRows))))
    val written = seen("rows").asInstanceOf[Long]
    val problems =
      (if (written != cleanRows) Seq(s"gate saw $written rows, source has $cleanRows") else Nil) ++
        (if (bad != injected) Seq(s"$bad malformed rows, $injected injected") else Nil)
    val extra =
      if (!t.on) Map.empty[String, Double]
      else {
        val pq = Disk.dirBytes(out, ".parquet").toDouble
        Map(
          "sources.malformed_rows" -> bad.toDouble,
          "sources.useful_ratio" -> written.toDouble / (written + bad),
          "sources.csv_bytes" -> csvBytes.toDouble,
          "sources.parquet_bytes" -> pq,
          "sources.stored_bytes_per_input_byte" -> pq / csvBytes)
      }
    Outcome("", written, problems, extra, out)
  }
}

/** A workload: its set-up, its op kinds and each client's op order. */
abstract class Workload(val spark: SparkSession, val a: Args) {
  def clients: Int = 1
  /** Builds the workload's inputs; returns its op kinds and named set-up
    * timings (s). */
  protected def build(): (Seq[Kind], Map[String, Double])
  private var built: Seq[Kind] = Nil
  def kinds: Seq[Kind] = built
  def prepare(): Map[String, Double] = {
    val (ks, timings) = build()
    built = ks
    timings
  }
  /** Endless op order of one client, as rounds. A single client runs
    * every kind once per round, in order, and the timed phase only ends
    * between rounds, so each kind weighs the same in every run. */
  def rounds(client: Int): Iterator[Seq[Kind]] = Iterator.continually(kinds)
  /** Each client's op order, continued from one phase to the next. */
  lazy val orders: IndexedSeq[Iterator[Seq[Kind]]] = (0 until clients).map(rounds)

  /** Runs `build` `a.setupRepeats` times from clean state and returns the
    * median build time; `clean` removes what one build leaves behind. */
  protected def repeated(clean: () => Unit)(build: => Unit): Double = {
    val ts = (1 to a.setupRepeats).map { i =>
      if (i > 1) clean()
      val t0 = System.nanoTime()
      build
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[e2ebench] input builds: ${ts.map(t => f"$t%.2f").mkString(" ")} s")
    ts.sorted.apply(ts.size / 2)
  }

  protected def replica(tables: Seq[String]): (String, Double) = {
    var dir = ""
    val s = repeated(() => Disk.deleteTree(Paths.get(dir))) {
      dir = BenchScale.ensure(spark, a.data, a.copies, tables)
    }
    (dir, s)
  }

  protected def queries(names: Seq[String], dir: String): Seq[Kind] = {
    val rows = names.map(Workload.factTable).distinct.map(t =>
      t -> spark.read.parquet(Tables.path(dir, t)).count()).toMap
    names.map(n => new QueryKind(n, dir, rows(Workload.factTable(n))))
  }
}

object Workload {
  val olapQueries: Seq[String] = Seq("q01_agg_by_type", "q02_rollup_month",
    "q03_yoy_window", "q04_topn_percentiles")

  /** The table whose rows an op of each query kind reads. */
  def factTable(query: String): String = query match {
    case "q01_agg_by_type" | "q03_yoy_window" => "lineitem"
    case "q02_rollup_month" | "q04_topn_percentiles" => "orders"
  }

  def apply(spark: SparkSession, a: Args): Workload = a.workload match {
    case "olap_concurrent" => new OlapConcurrent(spark, a)
    case "ingest_csv" => new IngestWorkload(spark, a)
    case w => throw new IllegalArgumentException(s"unknown workload: $w")
  }
}

/** Dashboards: `clients` closed-loop clients, each running seeded
  * shuffles of the four core queries over and over. */
final class OlapConcurrent(spark: SparkSession, a: Args) extends Workload(spark, a) {
  override def clients: Int = a.clients
  protected def build() = {
    val (dir, s) = replica(Seq("lineitem", "orders"))
    (queries(Workload.olapQueries, dir), Map("replica_s" -> s))
  }
  /** Each round is one seeded shuffle of the kinds, so every client runs
    * each kind equally often. The seed is hashed, as `Random`s seeded
    * with adjacent numbers start with the same shuffle. */
  override def rounds(client: Int): Iterator[Seq[Kind]] = {
    val rng = new Random(MurmurHash3.productHash((a.seed, client)))
    Iterator.continually(rng.shuffle(kinds))
  }
}

/** CSV ingest: a lineitem replica written once as CSV shards with
  * `malformed` bad lines spread through them, then read-and-store ops. */
final class IngestWorkload(spark: SparkSession, a: Args) extends Workload(spark, a) {
  private val csvDir = s"${a.work}/csv"
  private val outRoot = s"${a.work}/ingest_out"

  protected def build() = {
    val (dir, rs) = replica(Seq("lineitem"))
    val src = Tables.load(spark, dir, "lineitem")
    val rows = src.count()
    val s = repeated(() => Disk.deleteTree(Paths.get(csvDir))) {
      src.repartition(a.cpus).write.option("header", true).csv(csvDir)
      Disk.inject(csvDir, a.malformed, a.seed)
    }
    (Seq(new IngestKind(dir, csvDir, src.schema, rows, a.malformed,
      Disk.dirBytes(csvDir, ".csv"), outRoot, a.readbackSql)),
      Map("replica_s" -> rs, "csv_s" -> s))
  }
}

/** Small file helpers for set-up. */
object Disk {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  private def listed(dir: String, suffix: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(suffix) &&
        !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.toString)
    finally s.close()
  }

  def dirBytes(dir: String, suffix: String): Long =
    listed(dir, suffix).map(Files.size).sum

  /** Spread `n` malformed lines over the CSV shards of `dir` at seeded
    * positions. Each bad line carries a value its column's type cannot
    * parse, so a typed PERMISSIVE read counts it as corrupt. The shards'
    * checksum files are dropped, as they no longer match. */
  def inject(dir: String, n: Long, seed: Long): Unit = {
    val rng = new Random(seed)
    val shards = listed(dir, ".csv")
    val perShard = Array.fill(shards.size)(0)
    (0L until n).foreach(_ => perShard(rng.nextInt(shards.size)) += 1)
    val broken = Seq(
      "x%d,1,2,3,4.0,905.13,0.01,0.02,A,O,1996-01-01T00:00:00.000",
      "%d,1,2,3,many,905.13,0.01,0.02,N,F,1996-01-01T00:00:00.000",
      "%d,1,2,3,4.0,905.13,0.01,0.02,R,O,not-a-date",
      "%d,1,2,three,4.0,905.13,0.01,0.02,A,F,1997-03-04T00:00:00.000")
    shards.zip(perShard).foreach { case (p, k) =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      val at = Seq.fill(k)(1 + rng.nextInt(lines.size)).sorted
      val out = new java.util.ArrayList[String](lines.size + k)
      var j = 0
      lines.indices.foreach { i =>
        while (j < at.size && at(j) == i) {
          out.add(broken(rng.nextInt(broken.size)).format(rng.nextInt(1000000)))
          j += 1
        }
        out.add(lines(i))
      }
      while (j < at.size) {
        out.add(broken(rng.nextInt(broken.size)).format(rng.nextInt(1000000)))
        j += 1
      }
      Files.write(p, out)
    }
    Option(Paths.get(dir).toFile.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
  }
}
