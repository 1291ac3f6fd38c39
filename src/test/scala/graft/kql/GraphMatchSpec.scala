package graft.kql

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** make-graph / graph-match: hand-computable graphs, every shape pinned.
  *
  * Graph under test (directed, weights):
  *   1 -2-> 2,  2 -3-> 3,  1 -9-> 3,  3 -1-> 1,  2 -5-> 4
  */
class GraphMatchSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val cat = {
    val c = new Catalog(spark)
    c.register("edges", Seq(
      (1L, 2L, 2L), (2L, 3L, 3L), (1L, 3L, 9L), (3L, 1L, 1L), (2L, 4L, 5L))
      .toDF("s", "d", "w"))
    c.register("nodes", Seq(
      (1L, "a1"), (2L, "b2"), (3L, "c3"), (4L, "d4")).toDF("nid", "label"))
    c
  }
  private def run(kql: String) = Kql.run(spark, cat, kql)

  test("single hop with implicit nodes") {
    val r = run(
      """edges | make-graph s --> d
        | | graph-match (a)-[e]->(b)
        |     project x = tolong(a.id), y = tolong(b.id), w = e.w
        | | sort by x asc, y asc""".stripMargin).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ==
      Seq((1L, 2L, 2L), (1L, 3L, 9L), (2L, 3L, 3L), (2L, 4L, 5L), (3L, 1L, 1L)))
  }

  test("two hops, where on node/edge properties, with nodes table") {
    // paths a->b->c with total weight < 6: 1->2->3 (5), 1->2->4 (7 no),
    // 2->3->1 (4), 3->1->2 (3), 3->1->3 (10 no)
    val r = run(
      """edges | make-graph s --> d with nodes on nid
        | | graph-match (a)-[e1]->(b)-[e2]->(c)
        |     where e1.w + e2.w < 6
        |     project p = strcat(a.label, '>', b.label, '>', c.label),
        |             tw = e1.w + e2.w
        | | sort by p asc""".stripMargin).collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq == Seq(
      ("a1>b2>c3", 5L), ("b2>c3>a1", 4L), ("c3>a1>b2", 3L)))
  }

  test("backward edge direction reverses the hop") {
    val r = run(
      """edges | make-graph s --> d
        | | graph-match (a)<-[e]-(b)
        |     project x = tolong(a.id), y = tolong(b.id)
        | | sort by x asc, y asc""".stripMargin).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 3L), (2L, 1L), (3L, 1L), (3L, 2L), (4L, 2L)))
  }

  test("any-direction edge matches both orientations") {
    val r = run(
      """edges | make-graph s --> d
        | | graph-match (a)-[e]-(b)
        |     where a.id == 4
        |     project y = tolong(b.id)""".stripMargin).collect()
    // node 4 touches only edge 2->4: one match via the reversed orientation
    assert(r.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("unique_edges drops paths reusing an edge; cycles=none drops revisits") {
    // cycle 1->2->3->1: with unique_edges, 4-hop paths from 1 back through
    // the cycle cannot reuse edges — 1->2->3->1->2 uses e(1,2) twice? no:
    // edges (1,2),(2,3),(3,1),(1,2) — (1,2) repeats → excluded
    val r = run(
      """edges | make-graph s --> d
        | | graph-match (a)-[e1]->(b)-[e2]->(c)-[e3]->(d2)-[e4]->(f)
        |     project p = strcat(tostring(a.id), tostring(b.id),
        |                        tostring(c.id), tostring(d2.id),
        |                        tostring(f.id))""".stripMargin).collect()
    // only 4-edge trails: 2341 no (no 4->x)… enumerate: trails of length 4
    // with distinct edges: 1->2->3->1 then 1->3 (edge 1,3): "12313";
    // 2->3->1->2->4? edges (2,3)(3,1)(1,2)(2,4): "23124";
    // 3->1->2->3->? from 3: (3,1) used; 3->1 only other... (1,3)? path
    // 3->1->3? no wait: "31234": (3,1)(1,2)(2,3)(3,?) -> no (3,4);
    //   (3,1)(1,2)(2,4): 3 edges only. "31", "12", "23", then from 3:
    //   (3,1) reused → no. So: 12313? (1,2)(2,3)(3,1)(1,3): valid.
    // 23124: valid. 31231? (3,1)(1,2)(2,3)(3,1) reuse → no.
    // 13123 = (1,3)(3,1)(1,2)(2,3) and 13124 = (1,3)(3,1)(1,2)(2,4):
    // both valid trails. 31241? no edge 4->1.
    assert(r.map(_.getString(0)).sorted.toSeq ==
      Seq("12313", "13123", "13124", "23124"))

    val none = run(
      """edges | make-graph s --> d
        | | graph-match cycles=none (a)-[e1]->(b)-[e2]->(c)
        |     project p = strcat(tostring(a.id), tostring(b.id),
        |                        tostring(c.id))""".stripMargin).collect()
    // 2-hop simple paths (all nodes distinct): 123, 124, 231, 312, 313 out
    assert(none.map(_.getString(0)).sorted.toSeq ==
      Seq("123", "124", "231", "312"))
  }

  test("variable-length edge: union of hop counts, array var") {
    val r = run(
      """edges | make-graph s --> d
        | | graph-match (a)-[e*1..2]->(b)
        |     where a.id == 1
        |     project y = tolong(b.id), hops = array_length(e)
        | | sort by y asc, hops asc""".stripMargin).collect()
    // from 1: 1-hop → 2, 3; 2-hop → 1->2->3, 1->2->4, 1->3->1
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 1L), (3L, 1L), (3L, 2L), (4L, 2L)))
  }

  test("parallel identical edges collapse; distinct rows stay distinct") {
    val c2 = new Catalog(spark)
    c2.register("e2", Seq((1L, 2L, 7L), (1L, 2L, 7L), (1L, 2L, 8L))
      .toDF("s", "d", "w"))
    val r = Kql.run(spark, c2,
      """e2 | make-graph s --> d
        | | graph-match (a)-[e]->(b) project w = e.w
        | | sort by w asc""".stripMargin).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(7L, 8L))
  }

  test("graph-match without make-graph errors") {
    val e = intercept[KqlParseException] {
      run("edges | graph-match (a)-[e]->(b) project x = a.id")
    }
    assert(e.getMessage.contains("make-graph"))
  }

  test("repeated node variable = same-node constraint (cyclic pattern)") {
    // ADVICE r7: (a)-[e1]->(b)-[e2]->(a) used to be a parse error.
    // 2-hop cycles in the graph: 1->3->1 (via e(1,3),e(3,1)) and
    // 3->1->3 — 1->2 has no return edge, so exactly those two.
    val r = run(
      """edges | make-graph s --> d
        | | graph-match (a)-[e1]->(b)-[e2]->(a)
        |     project x = tolong(a.id), y = tolong(b.id)
        | | sort by x asc""".stripMargin).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 3L), (3L, 1L)))
    // the repeated variable binds once: projecting a.* works and the
    // where clause sees a single `a`
    val w = run(
      """edges | make-graph s --> d with nodes on nid
        | | graph-match (a)-[e1]->(b)-[e2]->(a)
        |     where a.label == 'a1'
        |     project l = a.label, m = b.label""".stripMargin).collect()
    assert(w.map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("a1", "c3")))
  }

  test("graph-shortest-paths: min-hop path per endpoint pair") {
    // from node 1: (1,2) direct, (1,3) direct beats 1->2->3, (1,4) two
    // hops via 2, (1,1) the 2-hop cycle 1->3->1 beats the 3-hop one
    val r = run(
      """edges | make-graph s --> d
        | | graph-shortest-paths (a)-[e*1..3]->(b)
        |     where a.id == 1
        |     project y = tolong(b.id), hops = array_length(e)
        | | sort by y asc""".stripMargin).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 2L)))
  }

  test("graph-shortest-paths: output=all keeps every minimal path") {
    val c2 = new Catalog(spark)
    c2.register("e2", Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s", "d"))
    val all = Kql.run(spark, c2,
      """e2 | make-graph s --> d
        | | graph-shortest-paths output=all (a)-[e*1..3]->(b)
        |     where a.id == 1 and b.id == 4
        |     project mid = tolong(e[0].d)
        | | sort by mid asc""".stripMargin).collect()
    // two distinct 2-hop paths 1->2->4 and 1->3->4, both minimal
    assert(all.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    val any = Kql.run(spark, c2,
      """e2 | make-graph s --> d
        | | graph-shortest-paths output=any (a)-[e*1..3]->(b)
        |     where a.id == 1 and b.id == 4
        |     project mid = tolong(e[0].d)""".stripMargin).collect()
    assert(any.length == 1) // deterministic single pick
  }

  test("graph-to-table exports nodes and edges with surfaced ids") {
    val nodes = run(
      """edges | make-graph s --> d with nodes on nid
        | | graph-to-table nodes with_node_id=node_key
        | | project nid, label, node_key
        | | sort by nid asc""".stripMargin).collect()
    assert(nodes.map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
      .toSeq == Seq((1L, "a1", 1L), (2L, "b2", 2L), (3L, "c3", 3L),
        (4L, "d4", 4L)))
    val e = run(
      """edges | make-graph s --> d
        | | graph-to-table edges with_source_id=src_id with_target_id=dst_id
        | | project src_id, dst_id, w
        | | sort by src_id asc, dst_id asc""".stripMargin).collect()
    assert(e.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ==
      Seq((1L, 2L, 2L), (1L, 3L, 9L), (2L, 3L, 3L), (2L, 4L, 5L),
        (3L, 1L, 1L)))
  }

  test("graph-mark-components labels weak components with the min node id") {
    val c2 = new Catalog(spark)
    // two components {1,2,3} (direction ignored for weak) and {7,8},
    // plus isolated explicit node 9
    c2.register("e2", Seq((1L, 2L), (3L, 2L), (7L, 8L)).toDF("s", "d"))
    c2.register("n2", Seq(1L, 2L, 3L, 7L, 8L, 9L).toDF("nid"))
    val r = Kql.run(spark, c2,
      """e2 | make-graph s --> d with n2 on nid
        | | graph-mark-components with_component_id=cc
        | | project nid, cc
        | | sort by nid asc""".stripMargin).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L), (9L, 9L)))
    // the graph context survives: components then export
    val chained = Kql.run(spark, c2,
      """e2 | make-graph s --> d
        | | graph-mark-components
        | | graph-to-table nodes
        | | summarize n = count() by ComponentId
        | | sort by ComponentId asc""".stripMargin).collect()
    assert(chained.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 3L), (7L, 2L)))
  }

  test("graph-mark-components on an empty graph returns no rows, " +
      "weak and strong") {
    val c3 = new Catalog(spark)
    c3.register("events", Seq((1L, 10L), (2L, 11L)).toDF("user_id", "event_id"))
    for (kind <- Seq("weak", "strong")) {
      val r = Kql.run(spark, c3,
        s"""events | where event_id < 0 | project s = user_id, d = event_id
           | | make-graph s --> d | graph-mark-components kind=$kind"""
          .stripMargin).collect()
      assert(r.isEmpty, kind)
    }
  }

  test("edge variable names must still be distinct") {
    val e = intercept[KqlParseException] {
      run("""edges | make-graph s --> d
            | | graph-match (a)-[e]->(b)-[e]->(c) project x = a.id"""
        .stripMargin)
    }
    assert(e.getMessage.contains("edge variable"))
  }
}
