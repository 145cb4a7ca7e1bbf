package perfbench

/** Just enough JSON writing for the result line and the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Integers print without a fraction; non-finite numbers are `null`. */
  def num(d: Double): String =
    if (!java.lang.Double.isFinite(d)) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def bool(b: Boolean): String = b.toString

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
