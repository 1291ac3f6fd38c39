package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.localCheckpointNoStats
import org.apache.spark.sql.functions._

/** Distributed graph utilities for dedup pipelines.
  *
  * Near-duplicate detection yields *pairs*; an actual 100 TB cleanup needs
  * *clusters* — pick one canonical document per connected component of the
  * dup-pair graph and drop the rest. The reference engine has no graph step
  * (its dedup surface stops at per-row operators), so this is one of the
  * beyond-the-reference training-pipeline operators.
  */
object Graph {

  /** Canonical undirected edge set: min-id first, self-loops dropped,
    * duplicate/reverse edges collapsed — the normalization every
    * undirected operator here starts from. */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Both directions (u, v) of every canonical edge, materialized once:
    * the per-round neighbor join of [[coreNumbers]] and
    * [[labelPropagation]] reads it every round. */
  private def symmetricPinned(und: DataFrame): DataFrame =
    localCheckpointNoStats(
      und.select(col("a").as("u"), col("b").as("v"))
        .unionByName(und.select(col("b").as("u"), col("a").as("v"))))

  /** The canonical edge set as (src, dst, weight = 1): the unweighted
    * operators run as their weighted forms over it. */
  private def unitWeighted(edges: DataFrame): DataFrame =
    canonicalUndirected(edges)
      .select(col("a").as("src"), col("b").as("dst"), lit(1L).as("weight"))

  /** Materializes one round of an iterative kernel and reads its `probes`
    * off that same job: each probe is an aggregate riding the checkpoint
    * as an [[org.apache.spark.sql.Observation]] metric, so a round costs
    * one Spark job, not a checkpoint plus a probe scan. The checkpoint
    * severs statistics lineage: every loop body here joins the previous
    * round, and preserved origin stats would SQUARE per round (see
    * GraftColumnBridge.localCheckpointNoStats). Probes read as exact
    * integers (DECIMAL(38,0)); a sum over no rows (empty input) reads as 0.
    */
  private def checkpoint(df: DataFrame, name: String, probes: Column*)
      : (DataFrame, Seq[BigDecimal]) =
    if (probes.isEmpty) (localCheckpointNoStats(df), Nil)
    else {
      val obs = org.apache.spark.sql.Observation(name)
      val named = probes.zipWithIndex.map { case (p, i) =>
        p.cast("decimal(38,0)").as(s"p$i") }
      val out = localCheckpointNoStats(
        df.observe(obs, named.head, named.tail: _*))
      val metrics = obs.get
      (out, probes.indices.map(i => metrics(s"p$i") match {
        case null                    => BigDecimal(0)
        case d: java.math.BigDecimal => BigDecimal(d)
      }))
    }

  /** The one driver loop of every iterative kernel here. Round r builds
    * `step(rows, probe)` from the previous round's rows and probe values
    * (`init` and `initProbe` before round 1), [[checkpoint]]s it with
    * `probes` riding that one job, and stops once `done(previous probe,
    * this probe)` holds or after `maxRounds` rounds. The driver loop is
    * control flow only — no row data reaches the driver.
    *
    * @return (last round's rows, its probe values, whether `done` held) —
    *         a kernel that a truncated run would make wrong fails loudly
    *         on `converged = false`
    */
  private def iterate(name: String, init: DataFrame, maxRounds: Int,
      probes: Column*)(step: (DataFrame, Seq[BigDecimal]) => DataFrame)(
      done: (Seq[BigDecimal], Seq[BigDecimal]) => Boolean,
      initProbe: Seq[BigDecimal]): (DataFrame, Seq[BigDecimal], Boolean) = {
    var rows = init
    var probe = initProbe
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val (next, p) =
        checkpoint(step(rows, probe), s"${name}_$round", probes: _*)
      converged = done(probe, p)
      rows = next
      probe = p
    }
    (rows, probe, converged)
  }

  /** Exact per-vertex TRIANGLE counts (round 10) — the standard
    * clustering-coefficient / community-density primitive, in the
    * degree-oriented two-join shape (Suri & Vassilvitskii 2011, "Counting
    * Triangles and the Curse of the Last Reducer"): orient every
    * undirected edge from its lower-(degree, id) endpoint to the higher
    * one, so each triangle is enumerated EXACTLY once as a directed wedge
    * a→b, b→c closed by a→c, and — the scale point — every vertex's
    * oriented out-degree is bounded by ~√(2m), so the wedge join never
    * explodes on a hub vertex the way a naive neighbor self-join does
    * (the "last reducer" a 100 TB social graph would otherwise starve on).
    *
    * Cost: one degree aggregate, one broadcast-or-shuffle join to attach
    * degrees, then TWO hash equi-joins (wedge build + closure check) and
    * a per-vertex count — all partial-aggregated, no iteration, no driver
    * data. Self-loops and duplicate/reverse edges are normalized away.
    *
    * @param edges columns `src`, `dst` (undirected; either orientation)
    * @return (id, n_triangles) for every vertex appearing in an edge
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
    val degrees = undirectedDegrees(und)
    triangleCountsFrom(und, degrees)
  }

  private def undirectedDegrees(und: DataFrame): DataFrame =
    und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** [[triangleCounts]] over a pre-canonicalized edge set and its degree
    * table — shared with [[clusteringCoefficients]] so the coefficient
    * join reuses the SAME und/degree subtrees (identical canonical plans
    * collapse via exchange reuse at runtime; building them once keeps
    * that guaranteed rather than incidental). */
  private def triangleCountsFrom(und: DataFrame,
      degrees: DataFrame): DataFrame = {
    def withDeg(side: String) = degrees
      .select(col("id").as(side), col("deg").as(s"__d_$side"))
    // orient low-(deg, id) → high-(deg, id)
    val oriented = und
      .join(withDeg("a"), "a").join(withDeg("b"), "b")
      .select(
        when(struct(col("__d_a"), col("a")) < struct(col("__d_b"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedges u→v, u→w (v < w by the orientation order is NOT guaranteed —
    // dedupe by requiring v < w on the struct key is unnecessary: the two
    // out-edges are distinct rows, and each unordered pair appears twice
    // (v,w) and (w,v); keep one side
    val e1 = oriented.select(col("u"), col("v").as("w1"))
    val e2 = oriented.select(col("u"), col("v").as("w2"))
    val wedges = e1.join(e2, "u").filter(col("w1") < col("w2"))
    // closure: the wedge (u; w1, w2) is a triangle iff oriented edge
    // w1→w2 or w2→w1 exists — orientation direction between w1/w2 is
    // fixed by their (deg, id) order, but comparing against the canonical
    // undirected set is simplest and equally bounded
    val closing = und.select(col("a").as("w1"), col("b").as("w2"))
    val tris = wedges.join(closing, Seq("w1", "w2"))
      .select(col("u"), col("w1"), col("w2"))
    val perVertex = tris
      .select(explode(array(col("u"), col("w1"), col("w2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    degrees.select("id")
      .join(perVertex, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Per-vertex CLUSTERING COEFFICIENTS (round 11) — the standard
    * graph-quality signal over [[triangleCounts]]: c(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1)), the fraction of a vertex's neighbor pairs that
    * are themselves connected (1 inside a clique — a dup community —
    * and ~0 on a random link). One degree aggregate joined onto the
    * triangle counts; the division is the only non-integer step and both
    * engines evaluate the identical IEEE double quotient of exact longs,
    * so the value oracles bit-for-bit. Vertices of degree < 2 have no
    * neighbor pair and report 0.0 by convention.
    *
    * @return (id, deg, n_triangles, clustering)
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
    val degrees = undirectedDegrees(und)
    triangleCountsFrom(und, degrees)
      .join(degrees, "id")
      .select(col("id"), col("deg"), col("n_triangles"),
        when(col("deg") < 2, lit(0.0))
          .otherwise((col("n_triangles") * 2L).cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double"))
          .as("clustering"))
  }

  /** K-CORE DECOMPOSITION (round 11) — core number per vertex: the
    * largest k such that the vertex survives peeling to the k-core (the
    * maximal subgraph where every vertex keeps in-subgraph degree ≥ k).
    * Coreness is the robust density signal of corpus dup-graph analysis
    * (degree counts links, coreness counts MUTUALLY-supported links: a
    * star hub has high degree but coreness 1; a dup community is a
    * high-k core).
    *
    * Shape: ascending-k iterative peeling. The k-core seeds from the
    * (k−1)-core's survivors (cores are nested), so each vertex is peeled
    * exactly once overall; each peel round is one in-set degree
    * aggregation (sym-edges semi-joined to the survivor set twice,
    * dst-keyed partial-agg count) + a filter, the survivor COUNT its
    * [[iterate]] probe. Rounds per level are bounded by the peel cascade
    * depth; total jobs = Σ_k rounds_k, and k never exceeds √(2m) (a
    * k-core needs ≥ k(k+1)/2 edges).
    *
    * @param vertices one column `id`
    * @param edges    columns `src`, `dst` (undirected; either orientation)
    * @param maxK     safety bound on the core level (fail loudly rather
    *                 than loop on a pathological graph)
    * @return (id, core) for every vertex — 0 for isolated vertices
    */
  def coreNumbers(vertices: DataFrame, edges: DataFrame,
      maxK: Int = 1000): DataFrame = {
    val sym = symmetricPinned(canonicalUndirected(edges))
    val size = count(lit(1))
    // the survivor count rides the ids materialization itself
    val (ids, Seq(idCount)) =
      checkpoint(vertices.select(col("id")).distinct(), "kcore_init", size)
    var survivors = ids
    var survivorCount = idCount
    var k = 1
    val dropped = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // a vertex of core c is only LABELED when the k = c+1 peel removes
    // it, so supporting core levels up to maxK needs the loop to reach
    // maxK + 1 (off-by-one otherwise: a graph whose max core equals
    // maxK would throw despite never exceeding the documented bound)
    while (survivorCount > 0 && k <= maxK + 1) {
      val level = k
      // peel to the k-core fixpoint: every round that is not the fixpoint
      // drops a vertex, so the round count needs no cap of its own
      val (core, Seq(coreCount), _) =
        iterate(s"kcore_$level", survivors, Int.MaxValue, size)(
          (cur, _) => sym
            .join(cur.select(col("id").as("u")), "u")
            .join(cur.select(col("id").as("v")), "v")
            .groupBy("u").agg(count(lit(1)).as("__d"))
            .filter(col("__d") >= level)
            .select(col("u").as("id")))(_ == _, Seq(survivorCount))
      if (coreCount < survivorCount)
        // both sides are checkpointed, so the lazy anti-join is stable
        dropped += survivors.join(core, Seq("id"), "left_anti")
          .select(col("id"), lit(k - 1L).as("core"))
      survivors = core
      survivorCount = coreCount
      k += 1
    }
    if (survivorCount > 0)
      throw new IllegalStateException(
        s"coreNumbers exceeded maxK=$maxK — pathological graph density")
    dropped.reduceOption(_ unionByName _)
      .getOrElse(ids.select(col("id"), lit(0L).as("core")))
  }

  /** LABEL-PROPAGATION community detection (round 12) — synchronous LPA
    * (Raghavan et al. 2007, "Near linear time algorithm to detect
    * community structures in large-scale networks") made fully
    * deterministic: every vertex starts with its own id as label; each
    * of the `iterations` rounds every vertex adopts the label MOST
    * FREQUENT among its neighbors, ties broken toward the SMALLEST
    * label; isolated vertices keep theirs. A fixed iteration budget +
    * deterministic tie-break makes the result a pure function of the
    * graph — partition-invariant and SQL-replayable — where the paper's
    * randomized asynchronous sweep is not (and a fixed budget is what
    * production jobs run anyway; the paper's own finding is ~5 rounds).
    * Communities complement the rest of the dup-graph family: connected
    * components give reachability islands, k-cores give density,
    * LPA gives the mesoscale grouping (template farms, mirror clusters)
    * that a component- or core-level keep-one policy is too coarse for.
    *
    * Shape per round: sym-edges join the (vertex → label) table on the
    * source (each directed edge copy fetches its neighbor's current
    * label), one (dst, label)-keyed count with map-side combine (hub
    * skew absorbed there), one dst-keyed argmax via min(struct(−n,
    * label)), then the round's checkpoint. Two shuffles per round.
    *
    * @return (id, community) — the final label per vertex
    */
  def labelPropagation(vertices: DataFrame, edges: DataFrame,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1)
    val sym = symmetricPinned(canonicalUndirected(edges))
    val ids = localCheckpointNoStats(vertices.select(col("id")).distinct())
    // lazy seed over the checkpointed ids: round 1 reads the trivial
    // projection twice, and ids is materialized
    val (labels, _, _) = iterate("lpa",
        ids.select(col("id"), col("id").as("label")), iterations) {
      (labels, _) =>
        val next = sym
          .join(labels.select(col("id").as("u"), col("label")), "u")
          .groupBy(col("v"), col("label"))
          .agg(count(lit(1)).as("__n"))
          .groupBy(col("v"))
          // most frequent, then smallest label: lexicographic min over
          // (−count, label)
          .agg(min(struct((-col("__n")).as("n"), col("label").as("l")))
            .as("__w"))
          .select(col("v").as("id"), col("__w.l").as("__next"))
        labels.join(next, Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("__next"), col("label")).as("label"))
    }((_, _) => false, Nil)
    labels.select(col("id"), col("label").as("community"))
  }

  /** MODULARITY per community (round 12) — the quality score for a
    * community assignment (Newman 2006): Q = Σ_c [e_c/m − (D_c/2m)²],
    * where e_c counts intra-community edges, D_c sums member degrees and
    * m is the total undirected edge count. This is the accept/reject
    * metric for [[labelPropagation]] output (LPA can degenerate to one
    * blob; Q ≈ 0 flags it) and the standard comparison number between two
    * clusterings of the same dup graph.
    *
    * EXACT integer arithmetic: the per-community contribution is returned
    * as the numerator `q_num = 4·m·e_c − D_c²` over the implicit common
    * denominator 4m² (Q = sum(q_num)/4m²), computed in DECIMAL(38,0) —
    * at web scale m ~ 10¹² makes D_c² overflow a BIGINT, and a float sum
    * over communities would not be partition-stable. Σq_num / 4m² needs
    * one division by the caller, with Q's sign and ordering already exact
    * in the integers.
    *
    * Shape: one edge canonicalization, TWO label joins on the edge table
    * (endpoint communities), one (community) count for e_c, one degree
    * aggregate joined to labels for D_c, the m total riding a broadcast
    * one-row aggregate — no iteration, no driver data.
    *
    * @param labels (id, community) — e.g. [[labelPropagation]] output
    * @return (community, n_vertices, intra_edges, degree_sum, q_num)
    */
  def modularity(labels: DataFrame, edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
    val lab = labels.select(col("id"), col("community"))
    val withCa = und
      .join(lab.select(col("id").as("a"), col("community").as("__ca")), "a")
      .join(lab.select(col("id").as("b"), col("community").as("__cb")), "b")
    val intra = withCa.filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val degSum = undirectedDegrees(und)
      .join(lab, "id")
      .groupBy(col("community"))
      .agg(sum("deg").as("degree_sum"))
    val perC = lab.groupBy(col("community"))
      .agg(count(lit(1)).as("n_vertices"))
      .join(intra, Seq("community"), "left_outer")
      .join(degSum, Seq("community"), "left_outer")
      .select(col("community"), col("n_vertices"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
    val m = und.agg(count(lit(1)).as("__m"))
    val dec = "decimal(38,0)"
    perC.crossJoin(broadcast(m))
      .select(col("community"), col("n_vertices"), col("intra_edges"),
        col("degree_sum"),
        (lit(4).cast(dec) * col("__m").cast(dec)
          * col("intra_edges").cast(dec)
          - col("degree_sum").cast(dec) * col("degree_sum").cast(dec))
          // re-pin the scale: Spark's decimal type rules can widen the
          // intermediate to a nonzero scale, and the correctness compare
          // is STRING equality ("240.000000" would mismatch HUGEINT 240)
          .cast(dec).as("q_num"))
  }

  /** WEIGHTED modularity (round 13) — [[modularity]] for the weighted,
    * self-looped graphs the Louvain condensation produces, so every
    * LEVEL of [[louvainLevels]] gets its exact accept/reject number:
    * intra weight counts plain same-community edges plus members'
    * self-loops (each once — the convention under which condensation is
    * modularity-INVARIANT: scoring partition P of the condensed graph
    * equals scoring the induced partition of the original, which
    * GraphSamplingSpec pins per-community), degrees count plain
    * incident weight + 2 × self-loop, m sums every canonical edge once.
    * Same exact-integer q_num = 4·m·e_c − D_c² contract as
    * [[modularity]], DECIMAL(38,0) for web-scale m.
    *
    * @param wedges (src, dst, weight); src == dst rows are self-loops
    * @return (community, n_vertices, intra_weight, degree_sum, q_num)
    */
  def modularityWeighted(labels: DataFrame, wedges: DataFrame): DataFrame = {
    val w = wedges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("weight"))
      .groupBy("a", "b").agg(sum("weight").as("__w"))
    val plain = w.filter(col("a") =!= col("b"))
    val loops = w.filter(col("a") === col("b"))
    val lab = labels.select(col("id"), col("community"))
    val plainIntra = plain
      .join(lab.select(col("id").as("a"), col("community").as("__ca")), "a")
      .join(lab.select(col("id").as("b"), col("community").as("__cb")), "b")
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community")).agg(sum("__w").as("__wi"))
    val loopIntra = loops
      .join(lab.select(col("id").as("a"), col("community")), "a")
      .groupBy(col("community")).agg(sum("__w").as("__wl"))
    val intra = plainIntra.join(loopIntra, Seq("community"), "full_outer")
      .select(col("community"),
        (coalesce(col("__wi"), lit(0L))
          + coalesce(col("__wl"), lit(0L))).as("intra_weight"))
    val sym = plain.select(col("a").as("u"), col("__w"))
      .unionByName(plain.select(col("b").as("u"), col("__w")))
    val deg = sym.groupBy(col("u").as("id")).agg(sum("__w").as("__dp"))
      .join(loops.select(col("a").as("id"), (col("__w") * 2).as("__l")),
        Seq("id"), "full_outer")
      .select(col("id"), (coalesce(col("__dp"), lit(0L))
        + coalesce(col("__l"), lit(0L))).as("deg"))
    val degSum = deg.join(lab, "id")
      .groupBy(col("community")).agg(sum("deg").as("degree_sum"))
    val m = w.agg(sum("__w").as("__m"))
    val dec = "decimal(38,0)"
    lab.groupBy(col("community")).agg(count(lit(1)).as("n_vertices"))
      .join(intra, Seq("community"), "left_outer")
      .join(degSum, Seq("community"), "left_outer")
      .select(col("community"), col("n_vertices"),
        coalesce(col("intra_weight"), lit(0L)).as("intra_weight"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_vertices"), col("intra_weight"),
        col("degree_sum"),
        (lit(4).cast(dec) * col("__m").cast(dec)
          * col("intra_weight").cast(dec)
          - col("degree_sum").cast(dec) * col("degree_sum").cast(dec))
          .cast(dec).as("q_num"))
  }

  /** One-level MODULARITY-GAIN refinement (round 13) — the greedy move
    * step of Louvain (Blondel et al. 2008 §2) run as ONE SYNCHRONOUS
    * pass over a seed assignment (e.g. [[labelPropagation]] output):
    * every vertex evaluates, against the FROZEN seed, the exact
    * modularity gain of moving to each neighboring community, and moves
    * to the best strictly-positive one (ties: smallest target
    * community). Gain for i moving a → b, scaled by the constant 2m²
    * (ordering- and sign-preserving):
    * `gain = 2m·(k_{i,b} − k_{i,a−i}) − k_i·(D_b − (D_a − k_i))`,
    * where k_{i,c} counts i's edges into community c, k_i is i's
    * degree, and D_c sums member degrees (Blondel's ΔQ with both the
    * remove-from-a and insert-into-b halves, over the common 2m²
    * denominator). All terms are exact integers; the gain is computed
    * in DECIMAL(38,0) because 2m·k overflows BIGINT at web-scale m —
    * but the OUTPUT columns stay BIGINT (the assignment, not the gain).
    *
    * SYNCHRONOUS on purpose (the paper's sweep is sequential — each
    * move updates D_c for the next vertex — which no distributed plan
    * can replay): all vertices decide against the same frozen seed,
    * making the pass a pure function of (graph, seed) — partition-
    * invariant and SQL-replayable — at the price that simultaneous
    * moves are not guaranteed jointly optimal (the standard parallel-
    * Louvain trade, cf. Grappolo). Run it once after LPA to crisp
    * boundary vertices; [[modularity]] before/after tells whether to
    * keep it.
    *
    * Shape: ONE neighbor-community count (the same two-shuffle join +
    * map-side combine as an LPA round), two bounded per-community
    * degree aggregates riding broadcast joins, one per-vertex argmax —
    * no iteration, no driver data.
    *
    * @param labels (id, community) seed assignment
    * @return (id, community) — the refined assignment, every seed
    *         vertex present (isolated / interior vertices keep theirs)
    */
  def louvainRefine(labels: DataFrame, edges: DataFrame,
      gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame =
    louvainRefineWeighted(labels, unitWeighted(edges),
      gammaNum = gammaNum, gammaDen = gammaDen)

  /** The WEIGHTED form of [[louvainRefine]] — the engine of the
    * multi-level flow, because [[louvainCondense]]'s super-graph carries
    * edge weights (inter-community edge counts) and SELF-LOOPS (each
    * community's intra weight). Semantics as the unweighted pass with
    * every count replaced by a weight sum: m = Σw over canonical edges
    * (self-loops once), k_i = Σ incident plain weights + 2·w_loop(i),
    * k_{i,c} excludes the self-loop (it moves WITH i, contributing to
    * e_c of whichever community holds i, so it cancels from every gain).
    *
    * `restrictToSmaller = true` additionally blocks moves to a target
    * community label ≥ the vertex's current label — the standard
    * synchronous-Louvain swap breaker (cf. Grappolo's minimum-label
    * rule): under a SINGLETON seed two mutually-attracted vertices would
    * otherwise trade labels in the same synchronous step (u adopts v's,
    * v adopts u's — still two communities, nothing merged); with the
    * rule only the larger label moves, so mutual pairs MERGE into the
    * smaller label. Off by default (the LPA-seeded gate pass predates
    * it and asymmetric seeds make swaps unlikely); the condensed
    * level-2 pass of [[louvainTwoLevel]] turns it on.
    *
    * RESOLUTION parameter γ (round 15): modularity has a known
    * resolution limit — it cannot see communities below a graph-size-
    * dependent scale (Fortunato & Barthélemy 2007), the defect Traag
    * et al. 2019 address with a tunable objective. γ generalizes the
    * objective to Reichardt–Bornholdt γ-modularity
    * Q_γ = Σ_c [e_c/m − γ(D_c/2m)²]: γ > 1 penalizes the degree
    * product harder and resolves SMALLER communities, γ < 1 coarser
    * ones; γ = 1 is classic modularity. Passed as a RATIONAL
    * γ = gammaNum/gammaDen so the gain arithmetic stays EXACT integer:
    * the whole gain is scaled by the positive constant gammaDen
    * (sign-preserving), giving
    * `gain_γ = gammaDen·2m·(k_{i,b} − k_{i,a−i})
    *   − gammaNum·k_i·(D_b − (D_a − k_i))` — the same DECIMAL(38,0)
    * discipline, still partition-invariant and SQL-replayable.
    *
    * @param wedges (src, dst, weight) — canonicalized and re-aggregated
    *               internally; src == dst rows are self-loops
    */
  def louvainRefineWeighted(labels: DataFrame, wedges: DataFrame,
      restrictToSmaller: Boolean = false,
      gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame = {
    require(gammaNum >= 1L && gammaDen >= 1L,
      s"resolution must be a positive rational: $gammaNum/$gammaDen")
    val w = wedges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("weight"))
      .groupBy("a", "b").agg(sum("weight").as("__w"))
    val plain = w.filter(col("a") =!= col("b"))
    val loops = w.filter(col("a") === col("b"))
      .select(col("a").as("id"), (col("__w") * 2).as("__wl"))
    val lab = labels.select(col("id"), col("community"))
    val sym = plain.select(col("a").as("u"), col("b").as("v"), col("__w"))
      .unionByName(
        plain.select(col("b").as("u"), col("a").as("v"), col("__w")))
    // weighted degree: incident plain weights + 2 × self-loop weight
    val deg = sym.groupBy(col("u").as("id"))
      .agg(sum("__w").as("__dp"))
      .join(loops, Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(col("__dp"), lit(0L))
          + coalesce(col("__wl"), lit(0L))).as("deg"))
    // D_c and m are community- and graph-bounded — broadcast sides
    val dTot = deg.join(lab, "id")
      .groupBy(col("community")).agg(sum("deg").as("__D"))
    val m = w.agg(sum("__w").as("__m"))
    // k(u, c): u's edge weight into each NEIGHBORING community — the
    // one corpus-scale aggregate (hub skew absorbed by map-side combine)
    val kUc = sym
      .join(lab.select(col("id").as("v"), col("community").as("__c")), "v")
      .groupBy(col("u"), col("__c")).agg(sum("__w").as("__k"))
    val cur = lab.select(col("id").as("u"), col("community").as("__a"))
      .join(deg.select(col("id").as("u"), col("deg").as("__ki")), "u")
    // k_{i,a}: weight into the HOME community (0 when i is a boundary
    // vertex with no same-community neighbor)
    val kA = cur
      .join(kUc.withColumnRenamed("__c", "__a"), Seq("u", "__a"), "left_outer")
      .select(col("u"), col("__a"), col("__ki"),
        coalesce(col("__k"), lit(0L)).as("__ka"))
    val dec = "decimal(38,0)"
    val cand0 = kUc
      .join(kA, "u")
      .filter(col("__c") =!= col("__a"))
    val cand1 =
      if (restrictToSmaller) cand0.filter(col("__c") < col("__a"))
      else cand0
    // the D_c joins are deliberately NOT hint-broadcast: |communities|
    // is graph-dependent (a singleton seed makes it |vertices| — forcing
    // a broadcast there would ship a vertex-scale table to every
    // executor). At gate/typical scale the planner auto-broadcasts the
    // small dTot anyway (PlanSpec pins it); at web scale AQE degrades
    // gracefully to a shuffle join keyed by the candidate's community.
    // Only the one-row m frame is forced.
    val cand = cand1
      .join(dTot.select(col("community").as("__c"),
        col("__D").as("__Db")), "__c")
      .join(dTot.select(col("community").as("__a"),
        col("__D").as("__Da")), "__a")
      .crossJoin(broadcast(m))
      .select(col("u"), col("__c"),
        (lit(2L * gammaDen).cast(dec) * col("__m").cast(dec)
          * (col("__k") - col("__ka")).cast(dec)
          - lit(gammaNum).cast(dec) * col("__ki").cast(dec)
            * (col("__Db") - col("__Da") + col("__ki")).cast(dec))
          .cast(dec).as("__gain"))
    val best = cand
      .groupBy(col("u"))
      // best gain, ties to the smallest target community
      .agg(min(struct((-col("__gain")).cast(dec).as("g"),
        col("__c").as("c"))).as("__w2"))
      .select(col("u").as("id"), col("__w2.c").as("__b"),
        (-col("__w2.g")).cast(dec).as("__bg"))
    lab.join(best, Seq("id"), "left_outer")
      .select(col("id"),
        when(col("__bg") > 0, col("__b"))
          .otherwise(col("community")).as("community"))
  }

  /** CONDENSE a graph by a community assignment — Louvain's phase 2
    * (Blondel et al. 2008 §2): communities become super-vertices,
    * inter-community edge counts become super-edge weights, and each
    * community's intra count becomes its super-vertex SELF-LOOP, so
    * modularity of any partition of the condensed graph equals
    * modularity of the induced partition of the original. One pass:
    * two label joins on the canonical edge set, one
    * (super-src, super-dst) partial-aggregated count — the
    * [[modularity]] cost model.
    *
    * @return (src, dst, weight), src ≤ dst; src == dst rows are
    *         self-loops carrying intra-community weight
    */
  def louvainCondense(labels: DataFrame, edges: DataFrame): DataFrame =
    louvainCondenseWeighted(labels, unitWeighted(edges))

  /** TWO-LEVEL Louvain (round 13): one greedy move pass over the seed,
    * condense by the refined assignment, one singleton-seeded WEIGHTED
    * move pass over the super-graph (with the minimum-label swap
    * breaker — see [[louvainRefineWeighted]]), and project the level-2
    * labels back to vertices. This is the first full iteration of the
    * Louvain pipeline — move, aggregate, move — as a deterministic pure
    * function of (graph, seed): the level-2 pass merges whole
    * communities the vertex-level pass cannot (a vertex can only move
    * alone; merging two cliques takes the super-vertex move), which is
    * where most of Louvain's quality beyond one level comes from.
    * Total cost: two refine passes + one condense, every stage the
    * bounded-aggregate + broadcast shape of its components.
    */
  def louvainTwoLevel(seed: DataFrame, edges: DataFrame): DataFrame =
    louvainLevels(seed, edges, levels = 2)

  /** The WEIGHTED condense — phase 2 over an already-condensed graph,
    * so [[louvainLevels]] can iterate: weights SUM through the label
    * mapping and a community's new self-loop collects both its members'
    * old self-loops and their now-intra edges. */
  def louvainCondenseWeighted(labels: DataFrame,
      wedges: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("community"))
    wedges
      .join(lab.select(col("id").as("src"),
        col("community").as("__ca")), "src")
      .join(lab.select(col("id").as("dst"),
        col("community").as("__cb")), "dst")
      .select(least(col("__ca"), col("__cb")).as("src"),
        greatest(col("__ca"), col("__cb")).as("dst"), col("weight"))
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
  }

  /** MULTI-LEVEL Louvain (round 13): the full Blondel et al. 2008 loop
    * with a FIXED level budget — one vertex-level move pass, then
    * `levels − 1` rounds of condense → singleton-seeded weighted move
    * pass (minimum-label swap breaker — see [[louvainRefineWeighted]]),
    * with the vertex → community mapping composed through the levels.
    * A fixed budget for the same reason [[labelPropagation]] has one:
    * run-until-no-improvement is data-dependent control flow, while a
    * fixed budget keeps the result a pure function of (graph, seed) —
    * and each level's graph is |communities|-sized, so levels beyond
    * the second cost a fraction of the first. A perfect assignment is
    * a FIXED POINT (no strictly-positive gain exists), so over-budgeted
    * levels are safe — the spec pins levels = 3 ≡ levels = 2 on the
    * reunited-cliques graph. `pl_louvain_two_level` gates the
    * levels = 2 instantiation end-to-end against DuckDB.
    */
  def louvainLevels(seed: DataFrame, edges: DataFrame,
      levels: Int, gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame = {
    require(levels >= 1)
    louvainLevelsFrom(
      localCheckpointNoStats(louvainRefine(seed, edges, gammaNum, gammaDen)),
      edges, levels, gammaNum, gammaDen)
  }

  /** [[louvainLevels]] continuing from a PRE-COMPUTED (materialized)
    * level-1 move-pass assignment — the "train once, reuse" entry for
    * callers that already hold `louvainRefine(seed, edges, γ)` output
    * (several gates consume the identical level-1 pass; recomputing it
    * per caller is pure duplication). `level1` must be materialized
    * (checkpointed): the level loop joins it repeatedly. */
  def louvainLevelsFrom(level1: DataFrame, edges: DataFrame,
      levels: Int, gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame =
    levelsFrom(level1, edges, levels, gammaNum, gammaDen, (moved, _) => moved)

  /** The level loop of [[louvainLevelsFrom]] and [[leidenLevelsFrom]]:
    * each level after the first runs the singleton-seeded weighted move
    * pass over the condensed graph, `repair`s its assignment against the
    * condensed edges (the identity for Louvain, [[splitDisconnected]] for
    * Leiden), and composes it into the vertex → community mapping. Both
    * the level's assignment and the composed mapping are pinned: the
    * next condense and the next compose join them. */
  private def levelsFrom(level1: DataFrame, edges: DataFrame, levels: Int,
      gammaNum: Long, gammaDen: Long,
      repair: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(levels >= 1)
    var assign = level1
    var wgraph = louvainCondense(assign, edges)
    var i = 1
    while (i < levels) {
      val superSeed = assign.select(col("community").as("id")).distinct()
        .select(col("id"), col("id").as("community"))
      val moved = louvainRefineWeighted(
        superSeed, wgraph, restrictToSmaller = true,
        gammaNum = gammaNum, gammaDen = gammaDen)
      val l = localCheckpointNoStats(
        repair(moved, wgraph.select(col("src"), col("dst"))))
      assign = localCheckpointNoStats(
        assign.select(col("id"), col("community").as("__c"))
          .join(l.select(col("id").as("__c"),
            col("community").as("__c2")), "__c")
          .select(col("id"), col("__c2").as("community")))
      i += 1
      if (i < levels)
        wgraph = louvainCondenseWeighted(l, wgraph)
    }
    assign
  }

  /** MULTI-LEVEL LEIDEN-STYLE clustering (round 14): [[louvainLevels]]
    * with the CONNECTIVITY GUARANTEE restored at every level — after
    * each move pass, [[splitDisconnected]] re-splits any internally-
    * disconnected community into its connected pieces BEFORE the
    * condense (Traag et al. 2019's core correction to Louvain: condensing
    * a disconnected community welds its pieces into one super-vertex
    * that no later level can ever separate, locking the defect in;
    * splitting first costs one diameter-bounded CC pass per level and
    * makes every community of every level connected by construction).
    * This is the paper's refinement guarantee as a per-level post-pass,
    * not its randomized within-refinement sampling — the pass stays a
    * pure function of (graph, seed) like everything else here
    * (partition-invariant, SQL-replayable; `pl_leiden_two_level` gates
    * levels = 2 against DuckDB).
    *
    * Splits only ever RAISE modularity (the pieces share no edge, so
    * only the degree-product penalty moves, downward — see
    * [[splitDisconnected]]), so each level's score is ≥ the same
    * level's unrepaired score path-for-path. The repair matters at the
    * super levels too: under the synchronous singleton-seeded pass a
    * vertex can adopt community b's label in the same step b itself
    * moves away, stranding the adopter.
    *
    * `gammaNum`/`gammaDen` set the RESOLUTION γ (see
    * [[louvainRefineWeighted]]) for every level's move pass; the split
    * repair is γ-safe — the pieces share no edge, so splitting moves
    * only the degree-product penalty, and −γ(D/2m)² shrinks under any
    * γ > 0 when D splits.
    */
  def leidenLevels(seed: DataFrame, edges: DataFrame,
      levels: Int, gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame = {
    require(levels >= 1)
    leidenLevelsFrom(
      localCheckpointNoStats(splitDisconnected(
        louvainRefine(seed, edges, gammaNum, gammaDen), edges)),
      edges, levels, gammaNum, gammaDen)
  }

  /** [[leidenLevels]] continuing from a PRE-COMPUTED (materialized)
    * level-1 repaired assignment (move pass + [[splitDisconnected]]) —
    * the [[louvainLevelsFrom]] twin for callers that already hold the
    * repaired level-1 pass. */
  def leidenLevelsFrom(repaired1: DataFrame, edges: DataFrame,
      levels: Int, gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame =
    levelsFrom(repaired1, edges, levels, gammaNum, gammaDen, splitDisconnected)

  /** [[leidenLevels]] at the two-level instantiation the gate covers. */
  def leidenTwoLevel(seed: DataFrame, edges: DataFrame): DataFrame =
    leidenLevels(seed, edges, levels = 2)

  /** Deterministic PageRank (round 10) — fixed-iteration, ALL-INTEGER
    * arithmetic so the result is a pure function of the graph
    * (partition-invariant, run-stable, SQL-replayable): ranks carry as
    * `scale`-scaled longs, each iteration computes
    * r'(v) = ⌊scale·(1−d)/N⌋ + ⌊d · (Σ_{u→v} ⌊r(u)/outdeg(u)⌋ + ⌊D/N⌋)⌋
    * with d = 85/100 exact and D the previous iteration's DANGLING mass
    * (rank held by vertices with no out-edges), redistributed uniformly —
    * the textbook correction, so ranks keep summing to ~scale on any
    * graph. Integer flooring loses a bounded trickle of mass per
    * iteration (≤ outdeg ulps per vertex) — the one remaining
    * deterministic simplification; ORDERINGS (who outranks whom) match
    * float PageRank far past the flooring error at `scale` = 1e12.
    *
    * Scale shape per iteration: one edge⋈outdeg⋈rank shuffle join + one
    * dst-keyed partial-aggregated sum — the CC loop's cost model; fixed
    * `iters`, the dangling mass each round's [[iterate]] probe.
    *
    * @param vertices one column `id`
    * @param edges    columns `src`, `dst` (DIRECTED; dups/self-loops dropped)
    * @return (id, rank_scaled) — scaled by `scale`, summing to ~scale
    *         (short only the flooring trickle, dangling graphs included)
    */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    require(iters >= 1 && scale > 0)
    def intDiv(a: Column, b: Column): Column =
      column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        expression(a), expression(b)))
    val e = localCheckpointNoStats(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    // loop invariants materialize ONCE: outdeg and the distinct vertex
    // set never change between iterations, and a lazy reference inside
    // the loop would re-run their shuffles every round
    val outdeg = localCheckpointNoStats(
      e.groupBy("src").agg(count(lit(1)).as("__outdeg")))
    val ids = localCheckpointNoStats(vertices.select(col("id")).distinct())
    val n = ids.count()
    require(n > 0, "empty vertex set")
    val teleport = (scale * 15L) / (n * 100L) // driver-exact integer
    // the dangling flag (no out-edges) is a loop invariant, and the
    // dangling COUNT rides its checkpoint: iteration 0's dangling mass is
    // exactly (scale / n) × |dangling|, driver-exact, so the initial ranks
    // frame is a lazy literal projection over the materialized flags
    val (flagged, Seq(nDangling)) = checkpoint(
      ids.join(
        outdeg.select(col("src").as("id"), lit(1).as("__has_out")),
        Seq("id"), "left_outer")
        .select(col("id"), col("__has_out").isNull.as("__dangling")),
      "pr_dangling_init",
      sum(when(col("__dangling"), lit(1L)).otherwise(lit(0L))))
    // each iteration's dangling MASS rides that iteration's checkpoint
    val (ranks, _, _) = iterate("pr_dangling",
        flagged.select(col("id"), lit(scale / n).as("rank_scaled"),
          col("__dangling")), iters,
        sum(when(col("__dangling"), col("rank_scaled")).otherwise(lit(0L)))) {
      (ranks, danglingMass) =>
        val contrib = e
          .join(outdeg, "src")
          .join(ranks.select(col("id").as("src"), col("rank_scaled")), "src")
          .select(col("dst").as("id"),
            intDiv(col("rank_scaled"), col("__outdeg")).as("__c"))
        val sums = contrib.groupBy("id").agg(sum(col("__c")).as("__in"))
        val share = danglingMass.head.toLong / n // driver-exact integer
        flagged
          .join(sums, Seq("id"), "left_outer")
          .select(col("id"),
            (lit(teleport) +
              intDiv((coalesce(col("__in"), lit(0L)) + lit(share)) * lit(85L),
                lit(100L)))
              .as("rank_scaled"),
            col("__dangling"))
    }((_, _) => false, Seq(nDangling * (scale / n)))
    ranks.select("id", "rank_scaled")
  }

  /** Connected components by iterative min-label propagation (the
    * "hash-to-min" MapReduce scheme): every vertex starts labeled with its
    * own id; each round, each vertex takes the min of its own label and its
    * neighbors' labels; fixpoint = components labeled by their min vertex id.
    *
    * Scale shape per round: one shuffle join (edges × labels on src) + one
    * groupBy(id).min — both partial-aggregated map-side — and the
    * convergence probe rides the round's checkpoint (see [[minLabels]]).
    * Rounds needed = graph diameter; dup clusters are near-cliques, so
    * 2-3 rounds in practice.
    *
    * @param vertices one column `id` (bigint)
    * @param edges    columns `src`, `dst` (undirected; either orientation)
    * @return (id, cluster_id) — cluster_id = min vertex id of the component
    */
  def connectedComponents(
      vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val sym = localCheckpointNoStats(
      edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    val (labels, converged) = minLabels(vertices, sym, maxIter, "cc_probe")
    // silent truncation would hand downstream dedup MULTIPLE "canonical"
    // ids inside one component — fail loudly instead (rounds needed equal
    // the component diameter; a hit here means the graph is a long chain,
    // not a dup near-clique, and the caller should raise maxIter)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it")
    labels
  }

  /** The one min-label propagation, shared by [[connectedComponents]]
    * (over both directions of every edge) and the SCC reachability passes
    * (over the in-class directed edges): every id starts labeled with
    * itself, and each round every id takes the min of its own label and
    * the labels messaged along `edges` (src → dst, pinned by the caller).
    * Labels only ever decrease, so an unchanged decimal label sum ⇔
    * fixpoint; decimal(38,0) keeps that sum exact far past a BIGINT
    * overflow. The seed's sum needs no job of its own: every round's
    * output holds exactly one row per id, so sum(id) over round 1's
    * output IS the seed labeling's sum, and it rides round 1's job.
    *
    * @return ((id, cluster_id), whether the fixpoint came within maxIter)
    */
  private def minLabels(ids: DataFrame, edges: DataFrame, maxIter: Int,
      name: String): (DataFrame, Boolean) = {
    val dec = "decimal(38,0)"
    val (labels, _, converged) = iterate(name,
        ids.select(col("id"), col("id").as("cluster_id")), maxIter,
        sum(col("cluster_id").cast(dec)), sum(col("id").cast(dec))) {
      (labels, _) =>
        val msgs = edges.join(labels, edges("src") === labels("id"))
          .select(col("dst").as("id"), col("cluster_id"))
        labels.unionByName(msgs)
          .groupBy("id").agg(min("cluster_id").as("cluster_id"))
    }((prev, cur) => cur(0) == prev.headOption.getOrElse(cur(1)), Nil)
    (labels, converged)
  }

  /** Community CONNECTIVITY diagnostic — the known defect of Louvain-
    * style greedy moves is internally-DISCONNECTED communities (Traag,
    * Waltman & van Eck 2019, the Leiden paper, §2): a move pass can
    * strand a community's bridge vertex, leaving members with no
    * intra-community path between them. This pass measures it: restrict
    * the edge set to INTRA-community edges (both endpoints share a
    * community), run [[connectedComponents]] once over the restricted
    * graph (components cannot span communities, so one global run covers
    * every community at once — no per-community loop), and report per
    * community how many pieces its induced subgraph falls into.
    * `n_components > 1` flags a partition a pipeline should not trust
    * (or should re-split by the components, which is exactly Leiden's
    * refinement step).
    *
    * Scale shape: two assignment joins to filter edges (assignment is
    * vertex-scale — these shuffle on the edge endpoints like every LPA
    * round), the CC rounds (diameter-bounded, here by the LARGEST
    * community's internal diameter, not the graph's), one final count
    * aggregate. No driver data.
    *
    * @param assignment (id, community) — e.g. [[louvainRefine]] output
    * @param edges      (src, dst) undirected, either orientation
    * @return (community, n_members, n_components) one row per community
    */
  def communityConnectivity(
      assignment: DataFrame, edges: DataFrame): DataFrame = {
    val (lab, cc) = intraComponents(assignment, edges)
    cc.join(lab, "id")
      .groupBy("community")
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("cluster_id")).as("n_components"))
  }

  /** LEIDEN-STYLE SPLIT REPAIR — the fix for what
    * [[communityConnectivity]] diagnoses: every community is re-split
    * into its connected pieces (Traag et al. 2019's guarantee that
    * communities be internally connected, applied as a post-pass rather
    * than interleaved with the moves). The new label of every vertex is
    * the MINIMUM member id of its piece — canonical and deterministic,
    * so a connected community survives intact (relabeled to its min
    * member id) and a disconnected one splits exactly along its
    * components. Splitting a disconnected community never DECREASES
    * modularity: the pieces share no edge (e_between = 0), so the e_c
    * terms are unchanged while the Σk² degree-product penalty strictly
    * shrinks — the repaired partition is modularity-≥ and trustworthy
    * for downstream grouping (GraphSamplingSpec pins both properties).
    *
    * Shape: [[communityConnectivity]]'s exact plan minus the final
    * aggregate — two edge-endpoint joins + the diameter-bounded CC
    * rounds.
    *
    * @param assignment (id, community) — e.g. [[louvainRefine]] output
    * @param edges      (src, dst) undirected, either orientation
    * @return (id, community) — community = min vertex id of the
    *         intra-community connected piece
    */
  def splitDisconnected(
      assignment: DataFrame, edges: DataFrame): DataFrame =
    intraComponents(assignment, edges)._2
      .select(col("id"), col("cluster_id").as("community"))

  /** Shared core of [[communityConnectivity]] and [[splitDisconnected]]:
    * ((id, community), (id, cluster_id)) where cluster_id labels the
    * vertex's component in the intra-community-edge-restricted graph.
    * One global CC run covers every community at once — components
    * cannot span communities. The assignment is not pinned here: two
    * jobs read it (the intra-edge pin and CC's first round), and for a
    * one-pass plan such as the Leiden repair's move pass that re-read
    * costs fewer jobs, stages and tasks than a pin job. A caller whose
    * assignment is costly to recompute pins it first. */
  private def intraComponents(
      assignment: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val lab = assignment.select(col("id"), col("community"))
    val intra = edges
      .join(lab.select(col("id").as("src"), col("community").as("__cs")),
        "src")
      .join(lab.select(col("id").as("dst"), col("community").as("__cd")),
        "dst")
      .filter(col("__cs") === col("__cd"))
      .select(col("src"), col("dst"))
    (lab, connectedComponents(lab.select("id"), intra))
  }

  /** STRONGLY connected components by forward/backward reachability class
    * refinement (the label-propagation form of FW-BW / Orzan coloring).
    *
    * Every node starts in one class. Each outer round, WITHIN each current
    * class: F(u) = min id of an in-class node that reaches u along forward
    * edges, B(u) = the same along reversed edges (two directed min-label
    * propagations, each the [[connectedComponents]] inner loop with
    * one-directional messages); the class then splits by the (F, B) pair,
    * each fragment relabeled with its min node id. Correctness: an SCC
    * never splits (all its members share every in-class ancestor and
    * descendant set, so F and B are uniform on it), and a class whose
    * (F, B) pairs are uniform IS an SCC (F(b)=f forces f →* b, B(f)=b
    * forces f →* b and minimality forces f = b = the class min m, so
    * every u has m →* u and u →* m). Classes only ever split, so the
    * fixpoint is exactly the SCC partition.
    *
    * 100 TB shape: per inner iteration one edge⋈label shuffle + one
    * partial-aggregated min, identical to [[connectedComponents]]; the
    * class restriction is an equi-filter on the joined row (no extra
    * shuffle); the split is one groupBy((comp, F, B)).min + a join back.
    * Convergence rides [[iterate]] probes. Outer rounds needed are
    * typically few (each round fully separates chains via the B labels);
    * non-convergence fails loudly, the [[connectedComponents]] precedent.
    *
    * @param vertices one column `id` (bigint)
    * @param edges    columns `src`, `dst` (DIRECTED src → dst)
    * @return (id, cluster_id) — cluster_id = min vertex id of the SCC
    */
  def stronglyConnectedComponents(
      vertices: DataFrame, edges: DataFrame, maxOuter: Int = 12,
      maxInner: Int = 25): DataFrame = {
    val e = localCheckpointNoStats(
      edges.select(col("src"), col("dst")).distinct())
    // directed min-label propagation of `comp`-class-restricted
    // reachability: messages flow src → dst only along edges whose
    // endpoints share the current class
    def propagate(cls: DataFrame, reversed: Boolean): DataFrame = {
      val dir = if (reversed)
        e.select(col("dst").as("src"), col("src").as("dst")) else e
      val inClass = localCheckpointNoStats(dir
        .join(cls.select(col("id").as("src"), col("comp").as("__sc")), "src")
        .join(cls.select(col("id").as("dst"), col("comp").as("__dc")), "dst")
        .filter(col("__sc") === col("__dc"))
        .select(col("src"), col("dst")))
      val (labels, converged) =
        minLabels(cls, inClass, maxInner, s"sccp_$reversed")
      if (!converged) throw new IllegalStateException(
        s"SCC inner propagation did not converge in $maxInner rounds")
      labels
    }
    // initial single class labeled by the global min id (a broadcast
    // 1-row aggregate), so every labeling in the loop is a min-of-class
    // labeling: per-node comp is then non-decreasing (classes only
    // shrink), making the unchanged-sum probe ⇔ fixpoint exact
    val probe = sum(col("comp").cast("decimal(38,0)"))
    val verts = vertices.select(col("id")).distinct()
    val (cls0, initSum) = checkpoint(
      verts.crossJoin(broadcast(verts.agg(min(col("id")).as("comp")))),
      "scc_init", probe)
    val (cls, _, converged) = iterate("scc", cls0, maxOuter, probe) {
      (cls, _) =>
        val f = propagate(cls, reversed = false)
          .select(col("id"), col("cluster_id").as("__f"))
        val b = propagate(cls, reversed = true)
          .select(col("id"), col("cluster_id").as("__b"))
        val tagged = cls.join(f, "id").join(b, "id")
        val split = tagged
          .groupBy(col("comp"), col("__f"), col("__b"))
          .agg(min(col("id")).as("__newcomp"))
        tagged.join(split, Seq("comp", "__f", "__b"))
          .select(col("id"), col("__newcomp").as("comp"))
    }(_ == _, initSum)
    if (!converged)
      throw new IllegalStateException(
        s"stronglyConnectedComponents did not converge in $maxOuter " +
          "rounds — pathological condensation chain; raise maxOuter")
    cls.select(col("id"), col("comp").as("cluster_id"))
  }
}
