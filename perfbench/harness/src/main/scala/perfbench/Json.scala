package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Minimal JSON writer for the harness's result file (maps, sequences,
  * arrays, numbers, strings, booleans, null). */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Number => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        quote(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case a: Array[_] => write(sb, a.toSeq)
    case it: Iterable[_] =>
      sb += '['
      var first = true
      it.foreach { x => if (!first) sb += ','; first = false; write(sb, x) }
      sb += ']'
    case o => quote(sb, o.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  def parse(s: String): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(s).values.asInstanceOf[Map[String, Any]]

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
}
