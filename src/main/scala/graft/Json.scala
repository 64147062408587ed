package graft

import java.util.Locale

/** The one JSON writer behind every tool's artifact. Maps keep their
  * iteration order (pass a `ListMap` for a fixed key order); doubles are
  * written with all their digits, or with exactly `digits` decimals when
  * wrapped in [[Json.Fixed]], always with a `.` whatever the default
  * locale; non-finite doubles become null. */
object Json {
  /** `value` written with exactly `digits` decimals. */
  final case class Fixed(value: Double, digits: Int)

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case Fixed(d, n) => if (d.isNaN || d.isInfinite) "null" else String.format(Locale.ROOT, s"%.${n}f", d)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  /** A JSON string literal: quote, backslash and every control character
    * escaped, so hand-written SQL with a tab or CR still parses. */
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case '\r' => sb ++= "\\r"
      case c if c < ' ' => sb ++= "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
