package graft

/** JSON string escaping for oracle_sql.json, written by `Verify` —
  * emits exactly what `check_oracle.py` / the driver's `json.load`
  * parse. Escapes backslash, quote, and ALL control chars (<0x20): a
  * tab or CR in builder-authored SQL would otherwise silently zero a
  * round's correctness. */
object OracleJson {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
