package perfbench

/** Just enough JSON output for the result and info lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  /** Every digit of the double (shortest round-trip form). */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def num(l: Long): String = l.toString

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
