package perfbench

/** Just enough JSON writing for the run record (no library on the classpath
  * is guaranteed to be the same across Spark versions). */
object Json {
  def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
}
