package graft

/** JSON text for the harness outputs (Verify's `oracle_sql.json`, Bench's
  * stdout lines): every string escaped, control chars included.
  */
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

  /** `{"k": "v",...}` in the pairs' iteration order. */
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
}
