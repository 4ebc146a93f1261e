package graft

/** JSON text for the artifacts the mains write by hand. */
private[graft] object JsonText {

  /** A JSON string literal. Backslash, quote and ALL control chars
    * (< 0x20) are escaped: a tab or CR in builder-authored SQL or in an
    * exception message would otherwise make a reader's json.load fail. */
  def string(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
