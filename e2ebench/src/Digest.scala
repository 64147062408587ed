package e2ebench

import org.apache.spark.sql.{DataFrame, Row}

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Order-insensitive digest of a query result: columns sorted by name, each
  * row rendered canonically, MD5 of each row, the first 8 bytes summed
  * modulo 2^64. `expected/digest.py` computes the same digest from DuckDB
  * results; the two renderings must stay identical.
  *
  * Floating-point and decimal values are rounded half-even to 6 decimal
  * places from their exact binary value, so the rendering does not depend
  * on either engine's shortest-repr printing. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col).toSeq: _*).collect()
    val md5 = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val h = md5.digest(r.toSeq.map(canon).mkString("|").getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  private val Ts = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  def canon(v: Any): String = v match {
    case null => "N"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else dec(new JBigDecimal(d))
    case f: Float => canon(f.toDouble)
    case b: JBigDecimal => dec(b)
    case b: scala.math.BigDecimal => dec(b.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp => Ts.format(t.toInstant)
    case t: java.time.Instant => Ts.format(t)
    case t: java.time.LocalDateTime => Ts.format(t.atOffset(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString // integers and booleans
  }

  private def dec(b: JBigDecimal): String = {
    val r = b.setScale(6, RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }
}
