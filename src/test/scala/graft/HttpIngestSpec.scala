package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions._

/** S1 transport fidelity: the reference ingests by streaming CSV from a
  * URL (reference README.md:176-199). This spec serves the events CSV
  * from an in-process HTTP server (JDK built-in, ephemeral port) and
  * proves the URL → staged CSV → typed rows → Parquet path is lossless
  * against the original fixture table. */
class HttpIngestSpec extends SparkSpec {

  test("URL → typed Parquet round-trip is lossless (multi-URL, distributed fetch)") {
    val s = spark
    import graft.sources.{HttpCsv, IngestJob}

    // 1. materialize the fixture as CSV shards (the "remote dataset")
    val csvDir = Paths.get(
      sys.props("java.io.tmpdir"), "graft_http_src").toString
    val events = Tables.load(s, sf001, "events")
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
        col("value"), col("props"))
    events.repartition(3).write.mode("overwrite")
      .option("header", true).csv(csvDir)
    val parts = Files.list(Paths.get(csvDir)).toArray.map(_.toString)
      .filter(_.endsWith(".csv")).sorted

    // 2. serve each shard over HTTP (port 0 = ephemeral)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    try {
      parts.zipWithIndex.foreach { case (p, i) =>
        server.createContext(s"/shard$i.csv", exchange => {
          val bytes = Files.readAllBytes(Paths.get(p))
          exchange.getResponseHeaders.add("Content-Type", "text/csv")
          exchange.sendResponseHeaders(200, bytes.length.toLong)
          val os = exchange.getResponseBody
          try os.write(bytes) finally os.close()
        })
      }
      server.start()
      val port = server.getAddress.getPort
      val urls = parts.indices
        .map(i => s"http://127.0.0.1:$port/shard$i.csv")

      // 3. distributed fetch + typed read + Parquet sink + read-back.
      // Fresh per-run staging dir: staged filenames hash the URL, and the
      // ephemeral port makes URLs differ run to run — a reused dir would
      // accumulate stale shards from previous runs.
      val staging = Files.createTempDirectory("graft_http_staging").toString
      val typed = HttpCsv
        .ingestCsvUrls(s, urls, IngestJob.eventsCsvSchema, staging)
        .select(
          col("event_id"), col("user_id"), col("event_type"),
          to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("value"), col("props"))
      val pq = Paths.get(
        sys.props("java.io.tmpdir"), "graft_http_parquet").toString
      typed.write.mode("overwrite").parquet(pq)

      val got = s.read.parquet(pq)
      val want = Tables.load(s, sf001, "events")
        .select(
          col("event_id"), col("user_id"), col("event_type"), col("ts"),
          col("value"), col("props"))
      assert(got.count() === want.count())
      assert(got.except(want).count() === 0)
      assert(want.except(got).count() === 0)
    } finally server.stop(0)
  }

  /** 3 good rows + 3 malformed: wrong arity, untyped garbage, and a
    * row whose only fault is its late `value` column. */
  private def tolerantFixture(): String = {
    val dir = Files.createTempDirectory("graft_csv_tolerant")
    Files.writeString(dir.resolve("part.csv"),
      """event_id,user_id,event_type,ts_str,value,props
        |1,10,click,2024-01-01 00:00:00.000000,1.5,a
        |garbage-without-commas
        |2,11,view,2024-01-01 00:00:01.000000,2.5,b
        |not,a,valid,row,with,extra,columns,entirely
        |4,13,view,2024-01-01 00:00:03.000000,many,d
        |3,12,click,2024-01-01 00:00:02.000000,3.5,c
        |""".stripMargin)
    dir.toString
  }

  test("bounded error tolerance: drops up to N malformed rows, fails beyond") {
    val s = spark
    import graft.sources.{HttpCsv, IngestJob}
    val dir = tolerantFixture()
    try {
      val (clean, bad) = HttpCsv.readCsvTolerant(
        s, dir, IngestJob.eventsCsvSchema, maxErrors = 3)
      // exact: a parse pruned to fewer columns would miss `value=many`
      assert(bad === 3, "every malformed row counted, late columns too")
      assert(clean.count() === 3, "good rows all survive")
      assert(clean.select("event_id").count() === 3,
        "a pruned read of the clean rows still drops the bad value")
      assert(clean.columns.toSeq === IngestJob.eventsCsvSchema.map(_.name),
        "corrupt-record column must not leak into the clean projection")
      // one fewer allowed error: the load must FAIL, not silently drop
      val e = intercept[IllegalStateException] {
        HttpCsv.readCsvTolerant(
          s, dir, IngestJob.eventsCsvSchema, maxErrors = 2)
      }
      assert(e.getMessage.contains("exceed the error tolerance"))
    } finally Caches.release()
  }

  test("tolerant read + gated write parse the CSV once, in two jobs") {
    import graft.sources.{HttpCsv, IngestJob}
    val dir = tolerantFixture()
    val out = Files.createTempDirectory("graft_csv_once")
      .resolve("t.parquet").toString
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ((bad, seen), jobs) = org.apache.spark.JobCount.during(spark) {
      val (clean, bad) = HttpCsv.readCsvTolerant(
        spark, dir, IngestJob.eventsCsvSchema, maxErrors = 3)
      (bad, IngestJob.gatedParquetWrite(clean, out,
        Seq("rows" -> count(lit(1))), Map("rows" -> (_ == 3L))))
    }
    Caches.release()
    assert(bad === 3 && seen("rows") === 3L)
    assert(jobs === 2, "one checkpointing parse, then the write")
    assert(sc.getPersistentRDDs.keySet === before,
      "release() frees the parse's blocks")
    // over the cap: the throw leaves nothing once released either
    intercept[IllegalStateException] {
      HttpCsv.readCsvTolerant(
        spark, dir, IngestJob.eventsCsvSchema, maxErrors = 2)
    }
    Caches.release()
    assert(sc.getPersistentRDDs.keySet === before,
      "release() frees the blocks of a load over the cap")
  }
}
