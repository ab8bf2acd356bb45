package perfbench

import java.util.Locale

/** Minimal JSON printer for the benchmark's records.
  *
  * Numbers never go through the default locale: doubles print through
  * `BigDecimal.toPlainString` (shortest round-trip digits, no grouping, `.`
  * as the decimal mark) and escapes through `Locale.ROOT`, so a record
  * written under a comma-decimal locale still parses.
  */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).stripTrailingZeros().toPlainString

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case c if c < 0x20 => sb.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Render maps (insertion order kept for `Seq` of pairs), sequences,
    * numbers, strings, booleans and null. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case Obj(fields) => fields.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** An object whose keys print in the order given. */
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)
}
