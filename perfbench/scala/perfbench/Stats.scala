package perfbench

/** Order statistics and a minimal JSON writer (the benchmark has no JSON
  * dependency of its own).
  */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)

  /** The highest percentile (in whole percent) that still leaves at least
    * ten samples above it, with the sample count; None below 11 samples.
    */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double, Int)] = {
    val n = xs.length
    val p = (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
    p.map(pp => (pp, quantile(xs, pp / 100.0), n))
  }
}

/** JSON values, rendered compactly with full double precision. */
sealed trait Json {
  def render: String
}

object Json {
  final case class Num(v: Double) extends Json {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
  }
  final case class Str(v: String) extends Json {
    def render: String = quote(v)
  }
  final case class Bool(v: Boolean) extends Json {
    def render: String = v.toString
  }
  final case class Arr(vs: Seq[Json]) extends Json {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(fields: Seq[(String, Json)]) extends Json {
    def render: String =
      fields.map { case (k, v) => quote(k) + ":" + v.render }.mkString("{", ",", "}")
  }

  def obj(fields: (String, Json)*): Obj = Obj(fields)
  def num(v: Double): Num = Num(v)
  def str(v: String): Str = Str(v)

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
