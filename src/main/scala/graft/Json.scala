package graft

/** JSON text for the summary lines and artifacts the mains write. */
object Json {

  /** `s` as a quoted JSON string: quote, backslash and every control
    * character (< 0x20) escaped — one raw tab or CR would make a reader's
    * json.load fail on the whole artifact. */
  def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** A JSON object of already-rendered values, keys in the given order. */
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
