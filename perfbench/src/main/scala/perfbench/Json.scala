package perfbench

/** Just enough JSON output for the result file: maps, sequences, numbers,
  * strings, booleans and spans. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: Span => obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "group" -> s.group, "start" -> s.startMs, "end" -> s.endMs, "attrs" -> s.attrs)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
