package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

/** Order-insensitive content hash of a query result, computed the same way
  * by `perfbench/gen_expected.py` over DuckDB's answer: columns sorted by
  * name, every value rendered canonically (numbers as their exact decimal
  * value, timestamps as UTC wall-clock microseconds), each row hashed with
  * SHA-256, and the rows' first 8 digest bytes summed modulo 2^64. */
object Check {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "\u0000"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: JBigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => canon(d.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFmt)
    case t: java.time.LocalDateTime => t.format(tsFmt)
    case t: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFmt)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", "\u0002", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0003" + canon(x) }.sorted.mkString("<", "\u0002", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0002", "]")
    case x => x.toString
  }

  def hash(columns: Array[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy { case (n, i) => (n, i) }.map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var acc = 0L
    rows.foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("\u0001")
      val d = md.digest(line.getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    f"$acc%016x"
  }
}
