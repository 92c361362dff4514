package graft

/** The JSON the engine's mains emit is hand-built; this is its one string
  * encoder. */
object Json {

  /** Quoted JSON string: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in oracle SQL or in an exception message
    * would otherwise make a consumer's json.load fail. */
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
