package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Salted skew join: spreading a hot key over salt buckets changes the
  * plan, never the rows.
  */
class SkewSpec extends SparkSpec {

  test("salted join equals plain join row-for-row") {
    val ev = Tables.load(spark, sf001, "events")
    val dim = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val plain = ev.join(dim, Seq("user_id"))
      .select("event_id", "user_id", "cnt")
      .collect().map(_.toSeq).toSet
    val salted = Skew
      .saltedJoin(ev, dim, "user_id", col("event_id"), nSalts = 8)
      .select("event_id", "user_id", "cnt")
      .collect().map(_.toSeq).toSet
    assert(salted == plain && plain.nonEmpty)
  }
}
