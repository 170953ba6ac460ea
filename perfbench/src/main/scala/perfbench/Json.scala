package perfbench

/** Minimal JSON writing for the results file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def nums(fields: Seq[(String, Double)]): String =
    obj(fields.map { case (k, v) => k -> num(v) })

  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
}
