package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a result: row count plus the sum
  * (mod 2^64) of one 64-bit digest per row. Columns are taken in name
  * order and floats are written as Python's `f"{v:.6g}"` writes them, the
  * canonical form the oracle check (`tools/check.py`) compares. */
object Canon {

  final case class Fingerprint(rows: Long, hash: String)

  def of(df: DataFrame): Fingerprint = {
    val names = df.columns.toSeq
    val order = names.indices.sortBy(names)
    val header = order.map(names).mkString("\u0001")
    var sum = digest(header)
    val rows = df.collect()
    rows.foreach(r => sum += digest(order.map(i => cell(r.get(i))).mkString("\u0001")))
    Fingerprint(rows.length.toLong, f"$sum%016x")
  }

  private def digest(s: String): Long = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => float6g(d)
    case f: Float => float6g(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Python's `format(v, ".6g")`: six significant digits, round half to
    * even on the exact binary value, trailing zeros dropped, exponent form
    * below 1e-4 and from 1e6 up; NaN is NULL as in the oracle check. */
  def float6g(v: Double): String =
    if (v.isNaN) "NULL"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else if (v == 0.0) (if (1.0 / v < 0) "-0" else "0")
    else {
      val r = new JBigDecimal(v).round(new MathContext(6, RoundingMode.HALF_EVEN))
      val exp = r.precision - r.scale - 1
      if (exp >= -4 && exp < 6) r.stripTrailingZeros.toPlainString
      else {
        val digits = r.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
        val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}" else digits
        val sign = if (r.signum < 0) "-" else ""
        val e = if (exp < 0) f"-${-exp}%02d" else f"+$exp%02d"
        s"$sign${mant}e$e"
      }
    }
}
