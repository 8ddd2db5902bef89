package graft

/** JSON text helpers for the programs' one-line artifacts. */
object Json {

  /** `s` as a quoted JSON string. Quote, backslash and every control
    * character are escaped, so the value never breaks its line or a
    * reader's `json.load`. */
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
