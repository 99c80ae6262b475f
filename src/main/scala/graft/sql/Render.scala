package graft.sql

import org.apache.spark.sql.Row

/** Reference-style text rendering of result rows (the MySQL handler's
  * tab-separated output — servers/mysql/writers/query_result_writer.rs):
  * lowercase booleans, NULL, floats without a trailing `.0` when integral.
  * Shared by the interactive [[graft.Shell]] and the golden-suite runner. */
object Render {

  def value(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => renderFloat(d)
    case f: Float => renderFloat(f.toDouble)
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  def row(r: Row): String =
    (0 until r.length).map(i => value(r.get(i))).mkString("\t")

  /** `s` as a JSON string literal for the JSON the engine writes by hand
    * (the HTTP API, Verify's oracle_sql.json). Escapes every control char:
    * a tab or CR in query text would otherwise break the reader's parse. */
  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def renderFloat(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString
}
