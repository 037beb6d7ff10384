package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Result canonicalization shared with `tools/oracle.py`: columns sorted by
  * name, every value rendered the way `tools/compare.py` renders it (doubles
  * as Python's `{:.12g}`, timestamps ISO with a space), rows sorted, then
  * SHA-256 over the lot. Both sides must produce byte-identical text, so any
  * change here needs the matching change in `oracle.py`.
  */
object Canon {

  final case class Shape(cols: Seq[String], rows: Int, digest: String)

  def shape(cols: Seq[String], rows: Seq[Row]): Shape = {
    val order = cols.indices.sortBy(i => cols(i))
    // sorted by UTF-8 bytes, i.e. by code point, as Python sorts the encoded lines
    val lines = rows.map(r => order.map(i => norm(r.get(i))).mkString("\u0001").getBytes("UTF-8"))
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(i => cols(i).toLowerCase).mkString("\u0001").getBytes("UTF-8"))
    lines.foreach { l => md.update("\n".getBytes("UTF-8")); md.update(l) }
    Shape(order.map(cols(_)), rows.size, md.digest().map(b => f"$b%02x").mkString)
  }

  def norm(v: Any): String = v match {
    case null => "NULL"
    case d: Double => g12(d)
    case f: Float => g12(f.toDouble)
    case b: Boolean => b.toString
    case d: JBigDecimal => d.toString
    case d: scala.math.BigDecimal => d.bigDecimal.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case t: java.sql.Timestamp => iso(t.toLocalDateTime)
    case t: Instant => iso(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case t: LocalDateTime => iso(t)
    case xs: scala.collection.Seq[_] => xs.map(norm).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Python's `datetime.isoformat()` with the `T` replaced by a space. */
  private def iso(t: LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val micros = t.getNano / 1000
    if (micros == 0) base else base + f".$micros%06d"
  }

  /** Python's `format(d, ".12g")`: correctly rounded to 12 significant
    * digits (half-even on the exact binary value), trailing zeros dropped,
    * scientific notation outside 1e-4 <= |d| < 1e12.
    */
  def g12(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0" else "0"
    val r = new JBigDecimal(d).round(new MathContext(12, RoundingMode.HALF_EVEN))
    val exp = r.precision - r.scale - 1
    if (exp >= -4 && exp < 12) {
      val s = r.stripTrailingZeros.toPlainString
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    } else {
      val digits = r.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
      val mant = if (digits.length > 1) digits.head + "." + digits.tail else digits
      val sign = if (r.signum < 0) "-" else ""
      sign + mant + "e" + (if (exp < 0) "-" else "+") + f"${math.abs(exp)}%02d"
    }
  }
}
