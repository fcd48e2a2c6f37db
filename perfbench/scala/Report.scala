package perfbench

/** Just enough JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** Order statistics used by every metric. */
object Stats {
  /** Linear-interpolated percentile (numpy's default) of a non-empty
    * sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of these percentiles with at least ten samples beyond
    * it; p50 when the sample is smaller than twenty. */
  val TailLadder = Seq(99.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  def tailPct(n: Int): Double =
    TailLadder.find(p => n * (100 - p) / 100 >= 10).getOrElse(50.0)

  def beyond(n: Int, p: Double): Int = math.floor(n * (100 - p) / 100).toInt
}

/** Order-independent row digests: a 64-bit hash per row, summed. */
object Digest {
  def of(xs: Any*): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(xs.map(String.valueOf).mkString("\u0001").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h).getLong
  }
}
