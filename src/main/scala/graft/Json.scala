package graft

/** One JSON string-literal escaper — shared by the Verify dump and
  * the mark-store connector's streaming offsets (`MarkIdOffset`), so
  * an escaping fix lands once. Escapes backslash, quote, and EVERY
  * control char < 0x20 (\n/\r/\t as their shortcuts); a stray tab or CR in
  * builder-authored SQL would otherwise break the driver's
  * json.load of the artifact. */
object Json {
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
