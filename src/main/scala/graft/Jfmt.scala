package graft

/** Locale-pinned fixed-decimal rendering for machine-parsed JSON.
  * Scala's `f"..."` interpolator routes through the DEFAULT locale, so
  * under a comma-decimal locale (de_DE, fr_FR, …) `f"$r%.3f"` renders
  * "0,987" and the probe/bench metric line stops being valid JSON.
  * Every number that lands inside a JSON payload goes through these
  * (stderr progress lines stay on the interpolator — they're for
  * humans, not parsers). */
object Jfmt {
  def f2(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
  def f3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** A JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in a query's oracle SQL would
    * otherwise make a JSON parser reject the whole `oracle_sql.json`
    * and silently zero the correctness compare. */
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
