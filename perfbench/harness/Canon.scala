package perfbench

import org.apache.spark.sql.Row

import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a result: row count plus the sum of
  * 64-bit hashes of each row's canonical text.
  *
  * Columns are sorted by name and values are rendered engine-neutrally, so
  * a Spark result and the DuckDB oracle's parquet (which may carry other
  * integer widths, DECIMAL for DOUBLE, or FLOAT widened to DOUBLE) compare
  * equal when the values do: NaN and null are NULL, integral numbers print
  * as integers, other numbers as doubles, timestamps as epoch microseconds
  * and dates as epoch days.
  */
final case class Fingerprint(columns: Seq[String], rows: Long, hash: Long) {
  def render: String = f"${columns.mkString(",")}|$rows|$hash%016x"
}

object Canon {
  def fingerprint(columns: Seq[String], rows: Iterator[Row]): Fingerprint = {
    val names = columns.map(_.toLowerCase)
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val text = order.map(i => value(r.get(i))).mkString("\u0001")
      h += hash64(text)
      n += 1
    }
    Fingerprint(names.sorted, n, h)
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x85ebca6b).toLong & 0xffffffffL)

  private def number(d: Double): String =
    if (d.isNaN) "NULL"
    else if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  private def value(v: Any): String = v match {
    case null                       => "NULL"
    case d: Double                  => number(d)
    case f: Float                   => number(f.toDouble)
    case b: java.math.BigDecimal    => number(b.doubleValue)
    case b: scala.math.BigDecimal   => number(b.toDouble)
    case i: Int                     => i.toString
    case l: Long                    => l.toString
    case s: Short                   => s.toString
    case b: Byte                    => b.toString
    case b: java.math.BigInteger    => b.toString
    case s: String                  => s
    case b: Boolean                 => b.toString
    case t: java.sql.Timestamp      => micros(t.toInstant).toString
    case t: java.time.Instant       => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date           => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate     => d.toEpochDay.toString
    case a: Array[Byte]             => a.map(b => f"$b%02x").mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case other  => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000
}
