package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBig}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a whole result: every row is rendered
  * to a canonical string (floating values rounded to [[Digits]] significant
  * digits), hashed with SHA-256, and the first 8 bytes of each hash are
  * summed mod 2^64. A dropped, added or changed row changes the sum; row
  * order does not. `fingerprint.py` is the same function over DuckDB rows,
  * so the two agree on equal results.
  */
object Fingerprint {
  val Digits = 9
  private val mc = new MathContext(Digits, RoundingMode.HALF_EVEN)

  final case class Fp(rows: Long, hash: String) {
    def json: String = s"""{"rows":$rows,"hash":"$hash"}"""
  }

  def number(b: JBig): String = {
    val r = b.round(mc)
    if (r.signum == 0) "f0e0"
    else {
      val s = r.stripTrailingZeros
      s"f${s.unscaledValue}e${-s.scale}"
    }
  }

  def floating(d: Double): String =
    if (d.isNaN) "fNaN"
    else if (d.isInfinite) (if (d > 0) "fInf" else "f-Inf")
    else number(new JBig(d))

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case i: Byte => s"i$i"
    case i: Short => s"i$i"
    case i: Int => s"i$i"
    case i: Long => s"i$i"
    case d: Double => floating(d)
    case f: Float => floating(f.toDouble)
    case b: JBig => number(b)
    case b: scala.math.BigDecimal => number(b.bigDecimal)
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      s"t${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case i: java.time.Instant => s"t${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => s"d${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"d${d.toEpochDay}"
    case d: java.time.Duration => s"u${d.getSeconds * 1000000L + d.getNano / 1000}"
    case b: Array[Byte] => "b" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(value).mkString("(", "\u001e", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted
        .mkString("{", "\u001e", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", "\u001e", "]")
    case other => "o" + other.toString
  }

  def rowString(r: Row): String = r.toSeq.map(value).mkString("\u001f")

  def rowHash(s: String): Long = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def of(rows: Iterable[Row]): Fp = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(rowString(r)); n += 1 }
    Fp(n, f"$sum%016x")
  }
}
