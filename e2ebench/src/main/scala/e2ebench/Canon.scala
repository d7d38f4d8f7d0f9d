package e2ebench

import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Engine-independent digest of a result: columns sorted by name, rows in
  * result order, every value rendered canonically. `run.py` renders
  * DuckDB's rows with the same rules, so two results digest equal exactly
  * when they hold the same values in the same row order.
  *
  * Numbers compare by value, not by type: an integral value within 2^53
  * renders as its integer digits whatever the column type, any other
  * floating value as the hex of its IEEE-754 bits (exact, no formatting
  * differences between the two languages). */
object Canon {
  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val exactLimit = 9007199254740992.0 // 2^53

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < exactLimit) d.toLong.toString
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case i: BigInt => i.toString
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: java.math.BigDecimal =>
      val s = d.stripTrailingZeros
      if (s.scale <= 0) s.toBigIntegerExact.toString else double(d.doubleValue)
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case s: String =>
      s.replace("\\", "\\\\").replace("\n", "\\n").replace("\u001f", "\\u")
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case t: java.sql.Timestamp => tsFmt.format(t.toInstant.atOffset(ZoneOffset.UTC))
    case t: Instant => tsFmt.format(t.atOffset(ZoneOffset.UTC))
    case t: LocalDateTime => tsFmt.format(t)
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }
        .sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** SHA-256 (hex) of the canonical text of `rows` under `schema`. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    put(order.map(names(_)).mkString("\u001f") + "\n")
    rows.foreach { r =>
      put(order.map(i => value(r.get(i))).mkString("\u001f") + "\n")
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
