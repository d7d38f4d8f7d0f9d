package graft

import java.nio.file.{Files, Paths}

/** Dump `SparkEntry.oracleSql` as JSON WITHOUT running any query — feeds
  * `tools/cte_audit.py`, the static screen that flags multiply-referenced
  * non-MATERIALIZED CTEs in oracle twins (the q274 class: DuckDB 1.0.0
  * inlines every CTE reference, so a peel chain referencing its
  * predecessor twice doubles the plan per step and one such twin can hang
  * the driver's whole-round compare — r7 verdict item #1). */
object OracleDump {

  /** Writes `twins` (query name → DuckDB SQL) to `path` as one JSON
    * object, in the map's iteration order. */
  def write(path: String, twins: Iterable[(String, String)]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in hand-written twin SQL would otherwise make a
    // json.load of the dump fail
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = twins
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/oracle_sql.json"
    write(out, SparkEntry.oracleSql)
    println(s"wrote ${SparkEntry.oracleSql.size} oracle twins to $out")
  }
}
