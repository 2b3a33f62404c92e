package nelspark.util

/** Minimal JSON string escaping shared by the bench and verify
  * emitters (no JSON library ships in this environment). */
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

  /** Locale-independent fixed-point double (the f interpolator uses the
    * default locale — a comma-decimal locale would emit invalid JSON). */
  def num(d: Double, decimals: Int = 6): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(d))
}
