package graft

object Json {

  /** `s` as a JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL or an error
    * message would otherwise make the driver's json.load fail and
    * silently zero the round's artifact. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
