package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench must not swallow failures: a query that throws has to surface
  * as a failure (exit-nonzero path), not a fast success.
  */
class BenchSpec extends AnyFunSuite {
  import TestSpark.spark

  test("a crashing query records a failure and the -1 sentinel") {
    val result = Bench.run(spark, TestSpark.sf, Seq(
      "ok" -> ((s, d) => Tables.load(s, d, "nation")),
      "broken" -> ((_, _) => throw new RuntimeException("deliberately broken"))))
    assert(result.errors.map(_._1) == Seq("broken"))
    assert(result.times.toMap.apply("broken") == -1.0)
    assert(result.times.toMap.apply("ok") >= 0.0)
    assert(result.totalSec >= 0.0) // sentinel excluded from the total
    val json = result.json("sf")
    assert(json.contains(""""failures":1"""))
    assert(json.contains("deliberately broken"))
  }

  test("all-green run reports zero failures") {
    val result = Bench.run(spark, TestSpark.sf, Seq(
      "ok" -> ((s, d) => Tables.load(s, d, "region"))))
    assert(result.errors.isEmpty)
    assert(result.json("sf").contains(""""failures":0"""))
  }

  test("json carries a per-query min/max spread; min bounds max") {
    val result = Bench.run(spark, TestSpark.sf, Seq(
      "ok" -> ((s, d) => Tables.load(s, d, "region"))), repeats = 3)
    val json = result.json("sf")
    assert(json.contains(""""spread":{"ok":{"min":"""))
    val mn = result.times.toMap.apply("ok")
    val mx = result.maxTimes.toMap.apply("ok")
    assert(mn >= 0.0 && mx >= mn)
    // a crashed query is excluded from the spread (its -1 is a sentinel)
    val bad = Bench.run(spark, TestSpark.sf, Seq(
      "broken" -> ((_, _) => throw new RuntimeException("boom"))))
    assert(!bad.json("sf").contains(""""broken":{"min""""))
  }

  test("compactJson writes a decimal point under a comma-decimal locale") {
    val result = Bench.Result(Seq("q" -> 1.25), Nil)
    val saved = java.util.Locale.getDefault
    val json =
      try {
        java.util.Locale.setDefault(java.util.Locale.GERMANY)
        result.compactJson("sf")
      } finally java.util.Locale.setDefault(saved)
    assert(json.contains(""""q":1.250"""), json)
  }
}
