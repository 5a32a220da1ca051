package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Canonical text of a query result, shared with `oracle.py`.
  *
  * Columns are ordered by name (the engine and the oracle may emit them
  * in different orders); rows keep the result's own order. Doubles are
  * compared by their exact bits, timestamps as microseconds since the
  * epoch (UTC), dates as days, decimals by value. The digest is the
  * SHA-256 of the header line and every row line.
  */
object Canon {
  def value(v: Any): String = v match {
    case null => "N"
    case b: java.lang.Boolean => if (b) "b1" else "b0"
    case x: java.lang.Long => "i" + x
    case x: java.lang.Integer => "i" + x
    case x: java.lang.Short => "i" + x
    case x: java.lang.Byte => "i" + x
    case d: java.lang.Double => dbl(d)
    case f: java.lang.Float => dbl(f.toDouble)
    case s: String => "s" + s.getBytes(UTF_8).length + ":" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case d: java.math.BigDecimal =>
      "n" + (if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row =>
      r.schema.fieldNames.indices
        .map(i => r.schema.fieldNames(i) + "=" + value(r.get(i)))
        .mkString("{", ",", "}")
    case other => "o" + other.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "fNaN"
    else f"f${java.lang.Double.doubleToRawLongBits(d)}%016x"

  /** Column order by name; stable, so duplicate names keep their order. */
  def order(names: Seq[String]): Seq[Int] =
    names.indices.sortBy(i => names(i))

  def lines(names: Seq[String], rows: Array[Row]): Iterator[String] = {
    val perm = order(names)
    Iterator.single(perm.map(names).mkString("|")) ++
      rows.iterator.map(r => perm.map(i => value(r.get(i))).mkString("|"))
  }

  def digest(names: Seq[String], rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines(names, rows).foreach { l =>
      md.update(l.getBytes(UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
