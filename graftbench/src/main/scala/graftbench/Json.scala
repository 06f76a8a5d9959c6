package graftbench

/** Minimal JSON writer for the raw run record the Python side reads.
  * Values: null, Boolean, Int/Long, Double (non-finite → null),
  * String, Seq, Map[String, _].
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case b: Boolean => sb ++= b.toString
      case i: Int => sb ++= i.toString
      case l: Long => sb ++= l.toString
      case d: Double => if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
      case s: String => str(s)
      case m: Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, v) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(v)
        }
        sb += '}'
      case xs: Iterable[_] =>
        sb += '['
        var first = true
        xs.foreach { y => if (!first) sb += ','; first = false; go(y) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
