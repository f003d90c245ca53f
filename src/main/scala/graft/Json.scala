package graft

/** The JSON writer behind every engine artifact (bench.json,
  * oracle_sql.json, verify_times.json). */
private[graft] object Json {

  /** JSON string literal. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in oracle SQL would otherwise make
    * json.load fail on the whole artifact. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON object from keys and already-encoded values. */
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
