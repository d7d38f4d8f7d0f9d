package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Ingestion failure paths: malformed CSV rows are dropped or captured,
  * never lost; a gated write publishes only when its gates pass; XML
  * round-trips values exactly.
  */
class IngestPipelineSpec extends SparkSpec {

  test("error tolerance: malformed CSV rows dropped or captured, never lost") {
    // the reference ingests with input_format_allow_errors_num=1000 —
    // up to N bad rows skipped, the rest loaded (README.md:176-199).
    // Spark's faces of the same contract: DROPMALFORMED (skip) and
    // PERMISSIVE + corrupt-record column (quarantine for inspection).
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_badcsv").toString
    val lines = Seq(
      "event_id\tuser_id\tvalue",
      "1\t10\t1.5",
      "2\tnot_a_number\toops", // malformed
      "3\t30\t3.5")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.csv"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))

    // NOTE: malformedness is judged against the PARSED columns only —
    // count() prunes every column and sees 3 rows. Any real pipeline
    // (like q17's typed read-back) projects the full schema, which is
    // what arms the check; the cache() pins that full-width parse.
    val dropped = spark.read.schema(schema)
      .option("header", true).option("sep", "\t")
      .option("mode", "DROPMALFORMED")
      .csv(dir)
      .select("event_id", "user_id", "value").cache()
    assert(dropped.count() == 2, "exactly the malformed row is skipped")
    assert(dropped.agg(sum("event_id")).head().getLong(0) == 4L)

    val quarantine = spark.read
      .schema(schema.add(StructField("_corrupt_record", StringType)))
      .option("header", true).option("sep", "\t")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .cache() // corrupt-record column requires a materialized referenced plan
    assert(quarantine.count() == 3, "PERMISSIVE keeps every input row")
    val bad = quarantine.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getAs[String]("_corrupt_record")
      .contains("not_a_number"))
  }

  test("gatedParquetWrite: gates ride the write pass and violated gates throw") {
    import graft.sources.IngestJob
    val base = java.nio.file.Files
      .createTempDirectory("graft_gate").toString
    val ev = Tables.load(spark, sf001, "events")
    val m = IngestJob.gatedParquetWrite(
      ev, s"$base/ok.parquet",
      Seq(
        "n_rows" -> count(lit(1)),
        "null_users" -> count(when(col("user_id").isNull, lit(1))),
        "max_value" -> max(col("value"))),
      Map(
        "n_rows" -> (v => v.asInstanceOf[Long] > 0L),
        "null_users" -> (v => v.asInstanceOf[Long] == 0L)))
    // observed metrics equal an independent recomputation (the spec
    // pays the second scan the production path exists to avoid)
    val expect = ev.agg(
      count(lit(1)), count(when(col("user_id").isNull, lit(1))),
      max(col("value"))).head()
    assert(m("n_rows") == expect.getLong(0))
    assert(m("null_users") == expect.getLong(1))
    assert(m("max_value") == expect.getDouble(2))
    // and the write itself really committed
    assert(spark.read.parquet(s"$base/ok.parquet").count()
      == expect.getLong(0))
    // a violated gate throws, naming the metric, and publishes nothing
    val e = intercept[IllegalArgumentException] {
      IngestJob.gatedParquetWrite(
        ev, s"$base/bad.parquet",
        Seq("n_rows" -> count(lit(1))),
        Map("n_rows" -> (_ => false)))
    }
    assert(e.getMessage.contains("n_rows"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/bad.parquet")))
  }

  test("gatedParquetWrite: a rejected rewrite leaves the published table") {
    import graft.sources.IngestJob
    val base = Files.createTempDirectory("graft_gate_publish")
    val ev = Tables.load(spark, sf001, "events")
    val n = ev.count()
    val rows = Seq("n_rows" -> count(lit(1)))
    // once unpartitioned, once partitioned: both publish by one rename
    val outs = Seq(Nil, Seq("event_type")).map { parts =>
      val out = base.resolve(s"events${parts.size}.parquet").toString
      IngestJob.gatedParquetWrite(
        ev, out, rows, Map("n_rows" -> (_ == n)), parts)
      def published() = spark.read.parquet(out)
        .select(ev.columns.map(col): _*).orderBy("event_id").collect().toSeq
      val good = published()
      assert(good.length == n)
      val dirs = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      assert(dirs.exists(_.contains("event_type=")) == parts.nonEmpty,
        s"partitioned as $parts: ${dirs.mkString(", ")}")
      // the rewrite loses rows and its gate rejects it: the good table
      // must still be there, row for row
      val e = intercept[IllegalArgumentException] {
        IngestJob.gatedParquetWrite(
          ev.limit(5), out, rows, Map("n_rows" -> (_ == n)), parts)
      }
      assert(e.getMessage.contains("n_rows=5"))
      val now = published()
      assert(now.length == n,
        s"a rejected write replaced the table: ${now.length} rows")
      assert(now == good)
      out
    }
    val left = Files.list(base).toArray.map(_.toString).toSeq.sorted
    assert(left == outs.sorted, s"staging left behind: $left")
  }

  test("xml roundtrip survives markup-significant characters") {
    import spark.implicits._
    // every character class XML must escape (or CDATA) to stay lossless:
    // element syntax, entities, quotes, and a leading/trailing space
    val rows = Seq(
      (1L, "<order> & </order>"),
      (2L, "a \"quoted\" 'string'"),
      (3L, " leading & trailing "),
      (4L, "]]> cdata terminator"),
      (5L, "plain"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_xml_spec").toString
    rows.toDF("k", "s").write.mode("overwrite")
      .option("rowTag", "row").xml(dir)
    // ignoreSurroundingSpaces defaults TRUE and silently trims values —
    // found by this test; lossless reads must disable it
    val back = spark.read
      .schema("k LONG, s STRING")
      .option("rowTag", "row")
      .option("ignoreSurroundingSpaces", false).xml(dir)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == rows, "XML escaping mangled a value")
    val trimmed = spark.read
      .schema("k LONG, s STRING")
      .option("rowTag", "row").xml(dir)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(trimmed(2)._2 == "leading & trailing",
      "default-read trim behavior changed — revisit q306's option")
  }
}
