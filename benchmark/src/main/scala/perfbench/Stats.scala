package perfbench

/** Order statistics for the run report. */
object Stats {

  /** Samples that must lie above a reported percentile. */
  val MinBeyond = 10

  /** Percentile `p` (0..100) of `xs` by linear interpolation between
    * order statistics, as (the percentile actually reported, its value).
    *
    * At least [[MinBeyond]] samples must lie strictly above the upper
    * interpolation point. When `p` lacks them, the highest percentile that
    * has them is reported instead; with too few samples for any, `None`.
    */
  def percentile(xs: Seq[Double], p: Double): Option[(Double, Double)] = {
    val n = xs.size
    if (n < MinBeyond + 2) return None
    val maxH = (n - 1 - MinBeyond).toDouble // ceil(h) may be at most this
    val h = math.min((n - 1) * p / 100.0, maxH)
    val s = xs.sorted
    val (lo, hi) = (math.floor(h).toInt, math.ceil(h).toInt)
    Some((100.0 * h / (n - 1), s(lo) + (h - lo) * (s(hi) - s(lo))))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case o: Option[_]         => o.fold("null")(apply)
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case other                => str(other.toString)
  }
}
