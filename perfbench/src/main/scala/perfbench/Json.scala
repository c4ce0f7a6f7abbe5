package perfbench

/** A minimal JSON writer: `Seq[(String, Any)]` is an object, any other
  * `Seq` an array; numbers keep every digit; NaN and infinities become null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case fields: Seq[_] if fields.nonEmpty && fields.forall {
      case (_: String, _) => true
      case _ => false
    } =>
      fields.map { case (k: String, x) => quote(k) + ":" + apply(x); case _ => "" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
