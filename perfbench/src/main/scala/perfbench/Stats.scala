package perfbench

import java.util.Locale

/** Order statistics with the benchmark's reporting rule: a timing is given
  * as its median and as the highest percentile that still has at least
  * [[MinBeyond]] samples above it, together with the sample count.
  */
object Stats {
  val MinBeyond = 10

  /** Percentiles a tail figure may take, highest first. */
  val Ladder: Seq[Int] = Seq(99, 95, 90, 75)

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  /** Samples strictly above the nearest-rank p-th percentile of n. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.min(math.max(math.ceil(p / 100.0 * n).toInt, 1), n)

  /** The highest ladder percentile that n samples can report. */
  def tailPercentile(n: Int): Option[Int] =
    Ladder.find(p => samplesBeyond(n, p) >= MinBeyond)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }
}

/** Every number the harness writes goes through here, so no output depends
  * on the JVM's default locale (a German default would print `1,5`). */
object Fmt {
  def fixed(x: Double, digits: Int): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(x))

  /** A JSON number with all its digits, or null when it is not finite. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => b += c
    }
    b += '"'
    b.result()
  }

  /** A JSON object from already-rendered values, keys in the given order. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
