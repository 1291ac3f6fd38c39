package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Graph, Sampling, TextAnalysis}

/** Deterministic tests for the round-4 pipeline additions: connected
  * components, reproducible sampling, and PII redaction.
  */
class GraphSamplingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("connectedComponents labels chains, cliques, and singletons") {
    // components: {1,2,3,4} as a path (diameter 3 — needs >1 round),
    // {10,11,12} as a triangle, {20} singleton
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),        // path, mixed orientation
      (10L, 11L), (11L, 12L), (10L, 12L)   // triangle
    ).toDF("src", "dst")
    val got = Graph.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("communityConnectivity flags internally-disconnected communities") {
    // community 1: {1,2} – {3,4} with NO intra edge between the halves
    // (the stranded-bridge shape Louvain can produce — Traag et al.
    // 2019); community 2: a connected triangle; community 3: a single
    // isolated vertex (one trivial component). The 1–5 edge crosses
    // communities, so it must NOT glue community 1 together.
    val assignment = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 2L,
      9L -> 3L).toDF("id", "community")
    val edges = Seq(
      (1L, 2L), (3L, 4L),                 // community 1, two pieces
      (5L, 6L), (6L, 7L), (5L, 7L),       // community 2, connected
      (1L, 5L)                            // cross-community bridge
    ).toDF("src", "dst")
    val got = Graph.communityConnectivity(assignment, edges)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> (4L, 2L),   // 4 members, SPLIT into 2 pieces — the flag
      2L -> (3L, 1L),
      3L -> (1L, 1L)))
  }

  test("splitDisconnected repairs split communities and never lowers " +
      "modularity; a connected partition only canonicalizes labels") {
    // same shape as the connectivity test: community 1 is two pieces
    // {1,2} and {3,4}, community 2 a triangle, 9 isolated
    val assignment = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 2L,
      9L -> 3L).toDF("id", "community")
    val edges = Seq(
      (1L, 2L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L),
      (1L, 5L)).toDF("src", "dst")
    val got = Graph.splitDisconnected(assignment, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L,   // piece one keeps min id 1
      3L -> 3L, 4L -> 3L,   // piece two relabels to ITS min id 3
      5L -> 5L, 6L -> 5L, 7L -> 5L,
      9L -> 9L), s"$got")
    // the repair is connected by construction …
    val conn = Graph.communityConnectivity(
      Graph.splitDisconnected(assignment, edges), edges)
      .collect().map(r => r.getLong(2)).toSet
    assert(conn == Set(1L), "every repaired community must be one piece")
    // … and modularity-≥ (here strictly >: the split removes the
    // disconnected pieces' cross-degree-product penalty)
    def q(labels: org.apache.spark.sql.DataFrame) =
      Graph.modularity(labels, edges)
        .collect().map(_.getDecimal(4).longValueExact()).sum
    assert(q(Graph.splitDisconnected(assignment, edges)) > q(assignment),
      "splitting a disconnected community must raise modularity here")
    // a connected partition survives up to canonical relabeling: same
    // grouping, labels = min member ids
    val connected = Seq(
      5L -> 2L, 6L -> 2L, 7L -> 2L, 9L -> 3L).toDF("id", "community")
    val e2 = Seq((5L, 6L), (6L, 7L), (5L, 7L)).toDF("src", "dst")
    val kept = Graph.splitDisconnected(connected, e2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 9L -> 9L), s"$kept")
  }

  test("leidenTwoLevel separates what louvainTwoLevel welds: a " +
      "disconnected seed community splits BEFORE the condense") {
    // two triangles with NO edge between them, seeded into ONE
    // community. The move pass is a fixed point (every neighbor is
    // home, no candidate moves), so Louvain condenses the disconnected
    // community into a single super-vertex — welded forever, Q = 0.
    // Leiden splits first: the optimal two-triangle partition falls out
    // and level 2 has nothing to merge (no inter edges).
    val verts = Seq(1L, 2L, 3L, 7L, 8L, 9L).toDF("id")
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (7L, 8L), (8L, 9L), (7L, 9L)).toDF("src", "dst")
    val seed = verts.select(col("id"), lit(1L).as("community"))
    def q(labels: org.apache.spark.sql.DataFrame) =
      Graph.modularity(labels, edges)
        .collect().map(_.getDecimal(4).longValueExact()).sum
    val louvain = Graph.louvainTwoLevel(seed, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(louvain.values.toSet.size == 1,
      s"unrepaired Louvain must stay welded here: $louvain")
    val leiden = Graph.leidenTwoLevel(seed, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(leiden == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L), s"$leiden")
    assert(q(Graph.leidenTwoLevel(seed, edges)) >
      q(Graph.louvainTwoLevel(seed, edges)),
      "the repair must strictly beat the welded partition here")
    // over-budgeted levels are a fixed point, like louvainLevels
    val l3 = Graph.leidenLevels(seed, edges, levels = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l3 == leiden, s"levels=3 must be a fixed point here: $l3")
  }

  test("louvainLevelsFrom/leidenLevelsFrom over an externally " +
      "materialized level-1 pass == the seed forms (round-16 reuse entry)") {
    // a shape where BOTH levels do real work: two cliques over-split by
    // the seed (level 2 merges) plus a disconnected seeded community
    // (the Leiden repair splits) — if the From continuations diverged
    // from the seed forms anywhere in the loop, this graph shows it
    val verts = (1L to 9L).toDF("id")
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L),
      (8L, 9L)).toDF("src", "dst")
    val seed = verts.select(col("id"),
      when(col("id") <= 2, lit(1L))
        .when(col("id") <= 4, lit(3L))
        .when(col("id") <= 7, lit(5L))
        .otherwise(lit(5L)).as("community"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    import org.apache.spark.sql.GraftColumnBridge.localCheckpointNoStats
    val l1 = localCheckpointNoStats(Graph.louvainRefine(seed, edges))
    assert(m(Graph.louvainLevelsFrom(l1, edges, levels = 2)) ==
      m(Graph.louvainLevels(seed, edges, levels = 2)))
    val r1 = localCheckpointNoStats(Graph.splitDisconnected(l1, edges))
    assert(m(Graph.leidenLevelsFrom(r1, edges, levels = 2)) ==
      m(Graph.leidenLevels(seed, edges, levels = 2)))
  }

  test("labelPropagation: cliques become communities, bridge stays thin") {
    // two 4-cliques {1..4} and {10..13} joined by ONE bridge edge 4–10,
    // plus a singleton: LPA must keep the cliques as separate
    // communities (each labeled by its min id — the deterministic
    // tie-break) because clique-internal majorities dominate the single
    // bridge vote; connectedComponents would merge them (the coarser
    // signal LPA exists to refine)
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L -> 10L)).toDF("src", "dst")
    val vertices = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 99L)).toDF("id")
    val got = Graph.labelPropagation(vertices, edges, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L), s"$got")
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L), s"$got")
    assert(got(99L) == 99L, "isolated vertex keeps its own label")
    // and the coarser component signal indeed merges the cliques
    val cc = Graph.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L).forall(cc(_) == 1L))
  }

  test("modularity: exact integers, and the clique split beats one blob") {
    // same two bridged 4-cliques: m = 13 edges; the 2-community LPA
    // assignment has e_c = 6 intra edges and D_c = 13 degree-sum per
    // side (the bridge endpoints carry degree 4), so each community's
    // q_num = 4·13·6 − 13² = 143 — checked exactly. The one-blob
    // assignment scores Q = 0 by definition (e = m, D = 2m), and the
    // split must beat it: that is the metric's whole job.
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L -> 10L)).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L).toDF("id")
    val split = Graph.labelPropagation(vertices, edges, iterations = 5)
    val got = Graph.modularity(split, edges)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDecimal(4).longValueExact()))).toMap
    assert(got == Map(
      1L -> ((4L, 6L, 13L, 143L)), 10L -> ((4L, 6L, 13L, 143L))), s"$got")
    val blob = vertices.select(col("id"), lit(1L).as("community"))
    val blobQ = Graph.modularity(blob, edges)
      .collect().map(_.getDecimal(4).longValueExact()).sum
    assert(blobQ == 0L, "one blob must score exactly Q = 0")
    assert(got.values.map(_._4).sum > blobQ,
      "the clique split must beat the blob")
  }

  test("louvainRefine: misplaced bridge vertex moves home, the rest stay") {
    // two bridged 4-cliques with vertex 4 SEEDED into the wrong
    // community (10). Exact gains at m = 13: moving 4 home to community
    // 1 scores 2m·(k_b − k_a) − k_i·(D_b − D_a + k_i)
    //   = 26·(3 − 1) − 4·(9 − 17 + 4) = 68 > 0 → moves;
    // an interior vertex like 1 moving to community 10 scores
    //   26·(1 − 2) − 3·(17 − 9 + 3) = −59 < 0 → stays;
    // clique-10 members see no foreign community → no candidate, stay;
    // the isolated 99 has no edges → stays. Both branches exercised,
    // and the pass must strictly improve modularity.
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L -> 10L)).toDF("src", "dst")
    val seed = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 10L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      99L -> 99L).toDF("id", "community")
    val got = Graph.louvainRefine(seed, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      99L -> 99L), s"$got")
    def q(labels: org.apache.spark.sql.DataFrame) =
      Graph.modularity(labels, edges)
        .collect().map(_.getDecimal(4).longValueExact()).sum
    assert(q(Graph.louvainRefine(seed, edges)) > q(seed),
      "the greedy pass must strictly improve modularity here")
    // a perfect seed is a fixed point: every candidate gain ≤ 0
    val perfect = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L)
      .toDF("id", "community")
    val refined = Graph.louvainRefine(perfect, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(refined == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L), s"$refined")
  }

  test("louvainCondense: inter counts as weights, intra as self-loops") {
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L -> 10L)).toDF("src", "dst")
    val perfect = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L)
      .toDF("id", "community")
    val got = Graph.louvainCondense(perfect, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(
      (1L, 1L) -> 6L,   // clique A's 6 intra edges → self-loop
      (10L, 10L) -> 6L, // clique B's
      (1L, 10L) -> 1L), // the bridge
      s"$got")
  }

  test("louvainTwoLevel: level 2 merges what synchronous level 1 " +
      "swapped — over-split cliques reunite") {
    // same two bridged cliques, each SEEDED over-split in half. The
    // level-1 synchronous pass SWAPS the halves (1,2→c3 while 3,4→c1 —
    // every gain is computed against the frozen seed, so symmetric
    // halves trade places; the documented synchronous-pass trade), and
    // no single vertex move can ever reunite a clique. CONDENSING makes
    // each half one super-vertex, and the singleton-seeded weighted
    // level-2 pass (minimum-label rule breaking the mutual-pair tie)
    // merges the halves: exact super-gain 2·13·4 − 6·7 = 62 > 0 per
    // clique. The cliques come back whole — the quality step the
    // one-level pass cannot express.
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L -> 10L)).toDF("src", "dst")
    val overSplit = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 12L, 13L -> 12L)
      .toDF("id", "community")
    val two = Graph.louvainTwoLevel(overSplit, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cliqueA = Seq(1L, 2L, 3L, 4L).map(two)
    val cliqueB = Seq(10L, 11L, 12L, 13L).map(two)
    assert(cliqueA.distinct.size == 1, s"clique A must reunite: $two")
    assert(cliqueB.distinct.size == 1, s"clique B must reunite: $two")
    assert(cliqueA.head != cliqueB.head,
      s"the bridge must not merge the cliques: $two")
    // and the reunited assignment strictly beats the over-split seed
    def q(labels: org.apache.spark.sql.DataFrame) =
      Graph.modularity(labels, edges)
        .collect().map(_.getDecimal(4).longValueExact()).sum
    assert(q(Graph.louvainTwoLevel(overSplit, edges)) > q(overSplit))
    // the reunited assignment is a FIXED POINT: a third level finds no
    // strictly-positive gain, so an over-budgeted loop is safe
    val three = Graph.louvainLevels(overSplit, edges, levels = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(three == two, s"levels=3 must equal levels=2 here: $three")
  }

  test("resolution gamma: high gamma forbids the clique-reunite merge " +
      "that gamma = 1 makes") {
    // the same over-split bridged-cliques fixture: at γ = 1 the level-2
    // super-gain for reuniting a clique's halves is 2m·w − k_u·k_b =
    // 2·13·4 − 7·6 = 62 > 0, so the halves merge. At γ = 5/2 the exact
    // scaled gain is q·2m·w − p·k_u·k_b = 2·104 − 5·42 = −2 < 0: the
    // SAME move is forbidden — the resolution parameter doing its job
    // (γ > 1 resolves finer communities; Fortunato & Barthélemy's
    // resolution limit is the γ = 1 blind spot).
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L -> 10L)).toDF("src", "dst")
    val overSplit = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 12L, 13L -> 12L)
      .toDF("id", "community")
    val fine = Graph.louvainLevels(overSplit, edges, levels = 2,
      gammaNum = 5, gammaDen = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(fine).distinct.size >= 2,
      s"gamma=5/2 must keep clique A split: $fine")
    assert(Seq(10L, 11L, 12L, 13L).map(fine).distinct.size >= 2,
      s"gamma=5/2 must keep clique B split: $fine")
    // and (1, 1) is exactly the classic pass — same frame as no gamma
    val classic = Graph.louvainLevels(overSplit, edges, levels = 2,
      gammaNum = 1, gammaDen = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = Graph.louvainTwoLevel(overSplit, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(classic == plain)
    assert(Seq(1L, 2L, 3L, 4L).map(classic).distinct.size == 1,
      s"gamma=1 must reunite clique A: $classic")
  }

  test("modularityWeighted: condensation is modularity-invariant, " +
      "per community and exactly") {
    // the property that makes multi-level Louvain SOUND: scoring the
    // condensed graph under the identity partition must equal scoring
    // the original graph under the assignment that condensed it —
    // same intra mass (self-loops carry it), same degree sums (2× the
    // loop weight), same m, hence the same exact q_num per community.
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L -> 10L)).toDF("src", "dst")
    // a deliberately IMPERFECT assignment so intra/inter both appear
    val labels = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 10L,
      10L -> 10L, 11L -> 10L, 12L -> 12L, 13L -> 12L)
      .toDF("id", "community")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDecimal(4).longValueExact())))
      .toMap
    val orig = rows(Graph.modularity(labels, edges)
      .withColumnRenamed("intra_edges", "intra_weight"))
    val condensed = Graph.louvainCondense(labels, edges)
    val identity = labels.select(col("community").as("id")).distinct()
      .select(col("id"), col("id").as("community"))
    val cond = rows(Graph.modularityWeighted(identity, condensed))
    assert(cond == orig,
      s"condensed scoring must equal original scoring: $cond vs $orig")
    // and the weighted form degrades to the exact unweighted one on a
    // weight-1, loop-free graph
    val w1 = edges.select(col("src"), col("dst"), lit(1L).as("weight"))
    assert(rows(Graph.modularityWeighted(labels, w1)) == orig)
  }

  test("connectedComponents converges on a long path within maxIter") {
    // path 0-1-2-...-19: min-label propagation moves the min one hop per
    // round, so this pins that the convergence probe actually iterates
    val n = 20
    val vertices = (0 until n).map(_.toLong).toDF("id")
    val edges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val got = Graph.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(1)).distinct
    assert(got.sameElements(Array(0L)))
  }

  test("stronglyConnectedComponents: cycles, DAG links, singletons") {
    // SCCs: {1,2,3} (3-cycle), {4,5} (2-cycle) reached from 3 by a DAG
    // edge, {6} and {7} singletons linked 6→7 — the counterexample shape
    // where one-shot (F, B) pair labeling over-merges (u, v sharing min
    // ancestor AND min descendant without a cycle) is covered below
    val vertices = (1L to 7L).toDF("id")
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 5L), (5L, 4L),
      (6L, 7L)).toDF("src", "dst")
    val got = Graph.stronglyConnectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L))
  }

  test("SCC refinement splits same-(F,B) non-cycles (diamond)") {
    // m→u→d, m→v→d with ids 0,2,3,1: u and v share F=0 and B=1 yet are
    // NOT strongly connected — the class-restricted second round must
    // split them (the one-shot pair labeling would not)
    val vertices = Seq(0L, 1L, 2L, 3L).toDF("id")
    val edges = Seq((0L, 2L), (0L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.stronglyConnectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("SCC on a directed cycle chain converges (condensation path)") {
    // cycles {0,1} {2,3} {4,5} ... linked in a chain of DAG edges — the
    // condensation is a path; every SCC must still come out whole
    val k = 6
    val vertices = (0 until 2 * k).map(_.toLong).toDF("id")
    val cyc = (0 until k).flatMap { i =>
      Seq((2L * i, 2L * i + 1), (2L * i + 1, 2L * i)) }
    val links = (0 until k - 1).map(i => (2L * i + 1, 2L * i + 2))
    val edges = (cyc ++ links).toDF("src", "dst")
    val got = Graph.stronglyConnectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 until 2 * k).map(i => i.toLong -> (i / 2 * 2).toLong).toMap)
  }

  test("connectedComponents fails loudly when maxIter truncates") {
    // a 6-node path has diameter 5: maxIter=2 cannot converge, and a
    // silent return would hand dedup multiple "canonical" ids per cluster
    val vertices = (0 until 6).map(_.toLong).toDF("id")
    val edges = (0 until 5).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Graph.connectedComponents(vertices, edges, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("SCC and coreNumbers fail loudly when their round caps truncate") {
    // two 2-cycles joined by a DAG edge: the outer refinement needs a
    // second round to see its fixpoint
    val cycles = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val outer = intercept[IllegalStateException] {
      Graph.stronglyConnectedComponents(
        (0L to 3L).toDF("id"), cycles, maxOuter = 1)
    }
    assert(outer.getMessage.contains(
      "stronglyConnectedComponents did not converge in 1 rounds"))
    // a 6-node directed path: forward reachability needs 5 rounds
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val inner = intercept[IllegalStateException] {
      Graph.stronglyConnectedComponents(
        (0L to 5L).toDF("id"), path, maxInner = 2)
    }
    assert(inner.getMessage.contains(
      "SCC inner propagation did not converge in 2 rounds"))
    // K4 is a 3-core, one level past maxK = 2
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      .toDF("src", "dst")
    val core = intercept[IllegalStateException] {
      Graph.coreNumbers((0L to 3L).toDF("id"), k4, maxK = 2)
    }
    assert(core.getMessage.contains("coreNumbers exceeded maxK=2"))
  }

  test("iterative kernels return no rows on an empty graph") {
    val vertices = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.connectedComponents(vertices, edges).count() == 0)
    assert(Graph.stronglyConnectedComponents(vertices, edges).count() == 0)
    assert(Graph.coreNumbers(vertices, edges).count() == 0)
    assert(Graph.labelPropagation(vertices, edges).count() == 0)
  }

  test("iterative kernels are invariant under edge and shuffle " +
      "partitioning") {
    // two 4-cliques joined by a bridge, a directed 3-cycle, a chain into
    // it and an isolated vertex: every kernel does more than one round
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L))
      ++ Seq((4L, 10L), (20L, 21L), (21L, 22L), (22L, 20L), (23L, 24L),
        (24L, 20L))).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 20L, 21L, 22L,
      23L, 24L, 99L).toDF("id")
    // pairs of ids share a seed community, so both level passes move
    val seed = vertices.select(col("id"),
      (col("id") / 2).cast("long").as("community"))
    def all(e: org.apache.spark.sql.DataFrame) = Map(
      "cc" -> Graph.connectedComponents(vertices, e),
      "scc" -> Graph.stronglyConnectedComponents(vertices, e),
      "lpa" -> Graph.labelPropagation(vertices, e),
      "pagerank" -> Graph.pageRank(vertices, e),
      "kcore" -> Graph.coreNumbers(vertices, e),
      "louvain" -> Graph.louvainLevels(seed, e, levels = 2),
      "leiden" -> Graph.leidenLevels(seed, e, levels = 2))
      .map { case (k, df) => k -> df.orderBy("id").collect().toSeq }
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val one = all(edges.repartition(1))
      spark.conf.set(key, "8")
      val seven = all(edges.repartition(7))
      for (k <- one.keys) assert(one(k) == seven(k), k)
    } finally spark.conf.set(key, prev)
  }

  test("sampling decisions are not periodic in the id") {
    // regression: the old mixer reduced id mod 1000003 BEFORE hashing, so
    // ids differing by that period always shared a fate
    val period = 1000003L
    val base = (0L until 1000L).toDF("doc_id")
    val shifted = (0L until 1000L).map(_ + period).toDF("doc_id")
    val a = Sampling.bernoulli(base, "doc_id", 0.2)
      .as[Long].collect().toSet
    val b = Sampling.bernoulli(shifted, "doc_id", 0.2)
      .as[Long].collect().map(_ - period).toSet
    assert(a != b, "ids one period apart must not be co-selected verbatim")
    assert(a.nonEmpty && b.nonEmpty)
  }

  test("weighted sampling matches an exact JVM recomputation of A-Res") {
    val rows = (1L to 400L).map(i => (i, s"s${i % 2}", (i % 7 + 1).toDouble))
    val df = rows.toDF("doc_id", "src", "w").repartition(9)
    val got = Sampling.weightedStratified(df, "src", "doc_id", "w", k = 10)
      .select("src", "doc_id").as[(String, Long)].collect().toSet
    // recompute the same arithmetic locally: u=(mix+1)/M, key=ln(u)/w
    def mixLocal(id: Long): Long =
      ((BigInt(id) * Sampling.A + Sampling.B) mod BigInt(Sampling.M)).toLong
    val want = rows
      .map { case (id, s, w) =>
        val u = (mixLocal(id).toDouble + 1.0) / Sampling.M.toDouble
        (s, id, math.log(u) / w)
      }
      .groupBy(_._1)
      .toSeq // a Map would collapse the flatMapped (s, id) pairs by key
      .flatMap { case (s, grp) =>
        grp.sortBy(t => (-t._3, t._2)).take(10).map(t => (s, t._2))
      }
      .toSet
    assert(got == want)
  }

  test("weighted sampling prefers heavy rows and skips non-positive weights") {
    val df = (1L to 200L)
      .map(i => (i, "s", if (i <= 20) 1000.0 else if (i <= 40) 0.0 else 0.001))
      .toDF("doc_id", "src", "w")
    val got = Sampling.weightedStratified(df, "src", "doc_id", "w", k = 15)
      .select("doc_id").as[Long].collect().toSet
    // weight 1000 vs 0.001: the heavy block dominates; zero-weight never picked
    assert(got.count(_ <= 20) >= 12, s"heavy rows under-selected: $got")
    assert(!got.exists(id => id > 20 && id <= 40), "zero-weight row selected")
  }

  test("bernoulli sample is invariant under repartitioning") {
    val df = (0L until 1000L).toDF("doc_id")
    val a = Sampling.bernoulli(df, "doc_id", 0.2)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.bernoulli(df.repartition(7), "doc_id", 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // rate lands near the target on 1000 uniform ids
    assert(a.size > 150 && a.size < 250, s"got ${a.size}")
  }

  test("stratified sample takes exactly k per stratum, deterministically") {
    val df = (0L until 300L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "lang")
    val a = Sampling.stratified(df, "lang", "doc_id", k = 10)
    val counts = a.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L))
    val again = Sampling.stratified(df.repartition(5), "lang", "doc_id", k = 10)
    assert(a.collect().map(_.getLong(0)).toSet ==
      again.collect().map(_.getLong(0)).toSet)
  }

  test("triangleCounts: clique, star, and orientation edge cases") {
    import graft.functions.Graph
    // K4 clique: every vertex is in C(3,2) = 3 triangles
    val k4 = (for {
      a <- 0L to 3L; b <- 0L to 3L if a < b
    } yield (a, b)).toDF("src", "dst")
    val gotK4 = Graph.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotK4 == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // star graph: no triangles, every vertex reported with 0
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val gotStar = Graph.triangleCounts(star).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotStar.values.forall(_ == 0L) && gotStar.size == 6)
    // duplicate + reversed + self-loop edges normalize away
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L)).toDF("src", "dst")
    val gotMessy = Graph.triangleCounts(messy).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotMessy == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("clusteringCoefficients: clique 1.0, star 0.0, degree<2 convention") {
    import graft.functions.Graph
    // K4 ∪ a pendant vertex 9 hanging off vertex 0
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (0L, 9L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficients(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // vertices 1-3: deg 3, all 3 neighbor pairs connected... not quite:
    // vertex 1's neighbors {0,2,3} are fully connected -> c = 1.0
    assert(got(1L) == ((3L, 3L, 1.0)) && got(2L) == ((3L, 3L, 1.0)) &&
      got(3L) == ((3L, 3L, 1.0)), s"$got")
    // vertex 0: deg 4 (clique + pendant), 3 triangles of 6 pairs -> 0.5
    assert(got(0L) == ((4L, 3L, 0.5)), s"$got")
    // the pendant has deg 1 -> 0.0 by convention
    assert(got(9L) == ((1L, 0L, 0.0)), s"$got")
  }

  test("coreNumbers: clique 3, chain 1, isolated 0, nested peeling") {
    import graft.functions.Graph
    // K4 (core 3) - vertex 4 tied to two clique members (core 2) -
    // pendant chain 5-6 off vertex 4 (core 1) - isolated vertex 7 (core 0)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (4L, 0L), (4L, 1L), (5L, 4L), (6L, 5L)).toDF("src", "dst")
    val verts = (0L to 7L).toDF("id")
    val got = Graph.coreNumbers(verts, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      4L -> 2L, 5L -> 1L, 6L -> 1L, 7L -> 0L), s"$got")
    // partition-invariant
    val got2 = Graph.coreNumbers(verts.repartition(5),
      edges.repartition(3)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == got2)
  }

  test("pageRank: sink-vs-source ordering, determinism, mass bound") {
    import graft.functions.Graph
    // chain 0→1→2 plus 3→2: vertex 2 collects everything, sources only
    // keep the teleport floor
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 2L)).toDF("src", "dst")
    val verts = Seq(0L, 1L, 2L, 3L).toDF("id")
    val r = Graph.pageRank(verts, edges, iters = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) > r(1L) && r(1L) > r(0L) && r(0L) == r(3L),
      s"rank order must follow link structure: $r")
    // total mass stays ~scale: dangling vertex 2's mass REDISTRIBUTES
    // (round 11 — the textbook correction), so the sum is short only the
    // integer-flooring trickle (≤ a few ulps per vertex per iteration)
    val total = r.values.sum
    assert(total <= 1000000000000L && total >= 1000000000000L - 1000L,
      s"mass must be conserved up to flooring: $total")
    // partition-invariant: identical longs under a different layout
    val r2 = Graph.pageRank(verts.repartition(7), edges.repartition(5),
      iters = 5).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == r2)
  }

  test("mixture samples each stratum at its own rate") {
    val df = (0L until 3000L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "src")
    val got = Sampling.mixture(df, "src", "doc_id",
      rates = Map("s0" -> 0.5, "s1" -> 0.1), defaultRate = 0.0)
    val counts = got.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("s2", 0L) == 0L, "default rate 0 excludes s2")
    assert(counts("s0") > 400 && counts("s0") < 600, s"s0 ~50%: $counts")
    assert(counts("s1") > 50 && counts("s1") < 150, s"s1 ~10%: $counts")
    // membership is a row property: the s0 sample is exactly the bernoulli
    // sample of the s0 stratum at the same rate
    val direct = Sampling.bernoulli(df.filter(col("src") === "s0"), "doc_id", 0.5)
    assert(got.filter(col("src") === "s0").collect().map(_.getLong(0)).toSet ==
      direct.collect().map(_.getLong(0)).toSet)
  }

  test("temperatureMixture flattens domain shares as T grows") {
    // skewed synthetic domains (the gate corpus is source-uniform, where
    // temperature resampling is an identity): 90% "big", 10% "small"
    val docs = (0L until 1000L)
      .map(i => (i, if (i < 900) "big" else "small"))
      .toDF("doc_id", "source")
    def shares(df: org.apache.spark.sql.DataFrame): Map[String, Double] = {
      val c = df.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val t = c.values.sum.toDouble
      c.map { case (k, v) => k -> v / t }
    }
    val nat = shares(docs)
    val t3 = shares(Sampling.temperatureMixture(docs, "source", "doc_id", 3.0))
    // T = 1 keeps everything (all rates 1 → identity)
    assert(Sampling.temperatureMixture(docs, "source", "doc_id", 1.0)
      .count() == docs.count())
    // downsample-only: the minority keeps everything, the majority thins,
    // so the minority share strictly grows toward uniform
    assert(t3("small") > nat("small"), s"small: ${nat("small")} -> ${t3("small")}")
    assert(Sampling.temperatureMixture(docs, "source", "doc_id", 3.0)
      .filter(col("source") === "small").count() == 100L)
    // deterministic: same rows regardless of partitioning
    val a = Sampling.temperatureMixture(docs, "source", "doc_id", 3.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureMixture(
      docs.repartition(7), "source", "doc_id", 3.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("temperatureUpsample replicates the minority, keeps the majority once") {
    val docs = (0L until 1000L)
      .map(i => (i, if (i < 900) "big" else "small"))
      .toDF("doc_id", "source")
    val up = Sampling.temperatureUpsample(docs, "source", "doc_id", 3.0)
    // majority rate normalizes to exactly 1 → one copy each, copy = 0
    assert(up.filter(col("source") === "big").count() == 900L)
    assert(up.filter(col("source") === "big" && col("copy") > 0).count() == 0L)
    // minority rate = (0.1/0.9)^(1/3-1) ≈ 4.33 → 4–5 copies per row
    val smallCopies = up.filter(col("source") === "small")
      .groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(smallCopies.forall(c => c == 4L || c == 5L), smallCopies.toSeq.distinct)
    // the total lands near rate × stratum size, and every row keeps copy 0
    val total = smallCopies.sum
    assert(total > 400 && total < 470, s"~433 expected: $total")
    // T = 1: all rates 1 → exact identity fan-out
    assert(Sampling.temperatureUpsample(docs, "source", "doc_id", 1.0)
      .count() == 1000L)
    // deterministic under repartitioning
    val a = up.select("doc_id", "copy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Sampling.temperatureUpsample(
      docs.repartition(7), "source", "doc_id", 3.0)
      .select("doc_id", "copy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("resample handles rate 0, fractional, integer, and >1 rates exactly") {
    val df = (0L until 3000L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "src")
    val got = Sampling.resample(df, "src", "doc_id",
      rates = Map("s0" -> 0.0, "s1" -> 2.0, "s2" -> 0.5))
    // rate 0 → sequence(0,-1) must NOT descend into phantom copies
    assert(got.filter(col("src") === "s0").count() == 0L)
    // integer rate 2 → exactly 2 copies per row, copies 0 and 1
    assert(got.filter(col("src") === "s1").count() == 2000L)
    assert(got.filter(col("src") === "s1").groupBy("doc_id").count()
      .filter(col("count") =!= 2).count() == 0L)
    // fractional 0.5 IS the mixture decision: identical row set
    val kept = got.filter(col("src") === "s2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val mix = Sampling.mixture(df.filter(col("src") === "s2"),
      "src", "doc_id", rates = Map("s2" -> 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == mix)
  }

  test("redactPII scrubs emails and phone runs, leaves prose alone") {
    val got = Seq(
      "write to jane.doe+spam@corp.example.org today",
      "call +1-555-867-5309 or 08-555-4242 now",
      "no pii here just words and the number 42"
    ).toDF("text").select(TextAnalysis.redactPII(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(got(0) == "write to <EMAIL> today")
    assert(got(1) == "call <PHONE> or <PHONE> now")
    assert(got(2) == "no pii here just words and the number 42")
  }

  test("shuffleOrder is a complete 0-based permutation") {
    val df = spark.range(500).toDF("id")
    val pos = Sampling.shuffleOrder(df, "id", 0L)
      .select("pos").collect().map(_.getLong(0)).sorted.toSeq
    assert(pos == (0L until 500L).toSeq)
  }

  test("shuffleOrder is invariant under repartitioning") {
    val df = spark.range(300).toDF("id")
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = asMap(Sampling.shuffleOrder(df, "id", 2L))
    val b = asMap(Sampling.shuffleOrder(df.repartition(7), "id", 2L))
    assert(a == b)
  }

  test("shuffleOrder epochs give different, individually-valid orders") {
    val df = spark.range(200).toDF("id")
    def order(e: Long) = Sampling.shuffleOrder(df, "id", e)
      .orderBy("pos").select("id").collect().map(_.getLong(0)).toSeq
    val e0 = order(0L); val e1 = order(1L)
    assert(e0 != e1)                  // the permutation changes per epoch
    assert(e0.sorted == e1.sorted)    // but both cover the whole corpus
  }
}
