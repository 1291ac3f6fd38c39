package perfbench

/** Open-loop arrival schedule and its accounting. Every request is timed
  * from the moment it was due, so a stall also charges the requests that
  * queued behind it. */
object Load {

  /** Seeded Poisson arrivals at `rate` per second over `seconds`: due times
    * in ms from the start of the loop. */
  def schedule(seed: Long, rate: Double, seconds: Double): Vector[Double] = {
    val rnd = new scala.util.Random(seed)
    Iterator.iterate(0.0)(t => t - math.log(1.0 - rnd.nextDouble()) / rate * 1000.0)
      .drop(1).takeWhile(_ < seconds * 1000.0).toVector
  }

  /** Requests that were due but not yet sent, just before each send:
    * `due` and `sent` in ms, one entry per request. The maximum is the
    * generator's backlog. */
  def backlog(due: Seq[Double], sent: Seq[Double]): Seq[Int] = {
    val d = due.sorted.toVector
    val s = sent.sorted.toVector
    s.indices.map { i =>
      // due at or before this send, minus those already sent before it
      val dueBy = upperBound(d, s(i))
      math.max(dueBy - i - 1, 0)
    }
  }

  private def upperBound(xs: Vector[Double], x: Double): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) <= x) lo = m + 1 else hi = m }
    lo
  }

  /** A fixed rate holds when its p95 latency meets the limit and the
    * backlog does not grow: the generator lag of the last third of the
    * requests (in due order) stays within half the limit. A failed request
    * counts as missing the limit. */
  def sustains(due: Seq[Double], sent: Seq[Double], latencyMs: Seq[Double], limitMs: Double): Boolean = {
    if (due.isEmpty) return false
    val p95 = Stats.percentile(latencyMs, 95)
    val byDue = due.zip(sent).sortBy(_._1)
    val tail = byDue.drop(byDue.length * 2 / 3)
    val tailLag = Stats.median(tail.map { case (d, s) => s - d })
    p95 <= limitMs && tailLag <= limitMs / 2
  }
}
