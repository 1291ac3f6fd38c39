package perfbench

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.samplesBeyond(100, 90) == 10)
    assert(Stats.samplesBeyond(99, 90) == 9)
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(99).contains(75))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(1000).contains(99))
    // every ladder choice really leaves ten samples above it
    (1 to 2000).foreach { n =>
      Stats.tailPercentile(n).foreach { p =>
        val xs = (1 to n).map(_.toDouble)
        assert(xs.count(_ > Stats.percentile(xs, p)) >= Stats.MinBeyond, s"n=$n p=$p")
      }
    }
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0), 95) == 5.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of child spans, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, "gate", "q", 0, 100),
      Span(2, 1, "build", "q", 10, 40),
      Span(3, 1, "exec", "q", 30, 60), // overlaps the build span
      Span(4, 1, "late", "q", 90, 130), // runs past the parent's end
      Span(5, 2, "parse", "q", 12, 20))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - (50 + 10))
    assert(self(2) == 30 - 8)
    assert(self(3) == 30)
    assert(self(5) == 8)
    assert(Trace.covered(Nil, 0, 10) == 0)
  }

  test("a seeded schedule is reproducible and has the requested rate") {
    val a = Load.schedule(7, 20.0, 50.0)
    assert(a == Load.schedule(7, 20.0, 50.0))
    assert(a != Load.schedule(8, 20.0, 50.0))
    assert(a.forall(t => t >= 0 && t < 50000))
    assert(a.zip(a.tail).forall { case (x, y) => x <= y })
    assert(math.abs(a.size - 1000) < 100)
  }

  test("backlog counts requests due but not yet sent at each send") {
    // on time: nothing waits
    assert(Load.backlog(Seq(0, 10, 20), Seq(0, 10, 20)).max == 0)
    // a stall until t=25 leaves the next two requests waiting
    assert(Load.backlog(Seq(0, 10, 20), Seq(25, 26, 27)) == Seq(2, 1, 0))
  }

  test("a rate holds only under the p95 limit and without a growing backlog") {
    val due = (0 until 60).map(_ * 100.0)
    val onTime = due.map(_ + 1.0)
    val fast = Seq.fill(60)(100.0)
    assert(Load.sustains(due, onTime, fast, limitMs = 500))
    // latency over the limit
    assert(!Load.sustains(due, onTime, Seq.fill(60)(900.0), limitMs = 500))
    // a failed request counts as missing the limit
    assert(!Load.sustains(due, onTime, fast.updated(0, Double.PositiveInfinity).take(60)
      .zipWithIndex.map { case (l, i) => if (i % 10 == 0) Double.PositiveInfinity else l }, 500))
    // the generator falls further behind over the run
    val drifting = due.zipWithIndex.map { case (d, i) => d + i * 20.0 }
    assert(!Load.sustains(due, drifting, fast, limitMs = 500))
  }

  test("numbers are written the same under any default locale") {
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      assert(String.format("%.2f", Double.box(1.5)) == "1,50") // the hazard
      assert(Fmt.fixed(1.5, 2) == "1.50")
      assert(Fmt.num(1234567.125) == "1234567.125")
      assert(Fmt.num(Double.NaN) == "null")
      val json = Main.metricsJson(Seq(Metric("latency_p50_ms", 12.5, "ms", 3)))
      assert(json == """{"latency_p50_ms":{"value":12.5,"unit":"ms","n":3}}""")
      assert(Trace.json(Seq(Span(1, 0, "a", "q", 0.25, 1.5))).contains("\"start_ms\":0.25"))
      assert(Fmt.str("a\"b\\c\n\u0001") == "\"a\\\"b\\\\c\\n\\u0001\"")
    } finally Locale.setDefault(saved)
  }
}
