package graft.kql

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** `merge_topk` with no `by` key runs as a keyless aggregate, which
  * serializes the buffer of every input partition — also of a partition
  * that holds no sketch. These pin the `kql_topk_merge` gate's rows with
  * adaptive execution off (empty shuffle partitions reach the merge) and
  * on, and the same pipeline over an empty input.
  */
class TopKMergeSpec extends AnyFunSuite {
  import TestSpark.spark

  private def session(aqe: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    s
  }

  private def run(aqe: Boolean, kql: String): Seq[Row] = {
    val s = session(aqe)
    Kql.run(s, Catalog.forTestData(s, TestSpark.sf), kql).collect().toSeq
  }

  test("kql_topk_merge gives the same rows with adaptive execution off and on") {
    val gate = SparkEntry.queries("kql_topk_merge")
    val off = gate(session(aqe = false), TestSpark.sf).collect().toSeq
    val on = gate(session(aqe = true), TestSpark.sf).collect().toSeq
    assert(off.nonEmpty)
    assert(off == on)
    // exact counts below the sketch's capacity: one row per event type
    val exact = graft.Tables.load(spark, TestSpark.sf, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(off.map(r => r.getString(0) -> r.getLong(1)).toMap == exact)
  }

  private val emptyMerge =
    """events
      | | where value < -1e18
      | | extend g = user_id % 4
      | | summarize s = topk_accum(event_type) by g
      | | summarize m = merge_topk(s)""".stripMargin

  test("merge_topk over an empty input is one null sketch, with adaptive execution off and on") {
    for (aqe <- Seq(false, true)) withClue(s"aqe=$aqe: ") {
      val r = run(aqe, emptyMerge)
      assert(r.length == 1)
      assert(r.head.isNullAt(0))
    }
  }

  test("the gate's read-out over an empty input is one null row, with adaptive execution off and on") {
    val kql = emptyMerge +
      """
        | | project tk = topk_estimate(m, 10)
        | | mv-expand tk
        | | project item = tostring(tk.item), cnt = tolong(tk.count)""".stripMargin
    // a null estimate expands to one row of nulls, as mv-expand does for
    // any null array
    val off = run(aqe = false, kql)
    assert(off == Seq(Row(null, null)))
    assert(run(aqe = true, kql) == off)
  }
}
