package graft.core

/** JSON text helpers for the reports and SQL dumps graft writes. */
object Json {

  /** `s` as a JSON string literal: quote, backslash and every control
    * character below 0x20 escaped (a raw tab or CR in the text would
    * make a strict reader such as Python's `json.load` fail). */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
