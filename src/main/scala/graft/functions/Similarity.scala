package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, as a 100 TB design requires:
  *  - brute-force cosine top-k: broadcast the (small) query set, stream the
  *    corpus — exact, O(|corpus|·|queries|) map-side work, one
  *    TakeOrdered-per-query via window rank;
  *  - LSH (random hyperplane) bucketed top-k: corpus hashed once to sign
  *    buckets (map-side), queries probe only their bucket — approximate,
  *    prunes the candidate set by ~2^planes.
  */
object Similarity {

  /** Dot product via zip_with + aggregate (no UDF). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))

  /** Cosine similarity, lowered to the native single-pass codegen'd
    * [[graft.functions.CosineSim]] expression. Zero-norm vectors yield null
    * (the `try_divide` behavior), not a query-killing DIVIDE_BY_ZERO under
    * ANSI mode — one corrupt embedding must not fail a 100 TB job; null
    * scores sort last and drop out of top-k/thresholds.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(CosineSim(expression(a), expression(b)))
  }

  /** Exact brute-force cosine top-k.
    *
    * @param queries small DataFrame (broadcast) with (qidCol, vecCol)
    * @param corpus  large DataFrame with (idCol, vecCol)
    * @return (query_id, rank, neighbor_id, score), rank 1..k per query
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(
      col(qidCol).as("query_id"), col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    // Filter on the RAW int row_number so Catalyst's InferWindowGroupLimit
    // fires: it rewrites rank<=k into a PARTIAL WindowGroupLimit before the
    // query-keyed exchange — each corpus partition forwards only its local
    // top-k per query, so the final per-query task sorts |partitions|·k
    // rows instead of every candidate (the r9 single-task-per-query sort
    // of the corpus). A cast on the rank before the filter breaks the
    // rule's pattern match — cast to long only after filtering.
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** HARD-NEGATIVE mining (round 12) — contrastive-training data prep:
    * for each anchor, the top-k most similar corpus items whose label
    * DIFFERS from the anchor's (the near-misses a contrastive loss
    * learns the most from; random negatives are trivially separable).
    * Same distributed shape as [[bruteForceTopK]] — broadcast anchors,
    * map-side cosine, label exclusion fused into the join predicate so
    * positives never enter the scored stream (and null labels exclude —
    * unlabeled data is not a KNOWN negative), partial WindowGroupLimit
    * top-k below the per-anchor exchange. This is the exact baseline;
    * at billion-vector scale mine the pool from a persisted ANN index
    * instead — [[hardNegativesFromIndex]], the round-13 production
    * form.
    *
    * @return (query_id, rank, neighbor_id, score), rank 1..k per anchor
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String, labelCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(anchors.select(col(qidCol).as("query_id"),
      col(vecCol).as("__qv"), col(labelCol).as("__ql")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), col(labelCol).as("__cl"))
    // plain != on purpose (null-propagating): an UNLABELED item is not a
    // KNOWN negative — it might be an unmarked positive — so null labels
    // exclude on either side (a null-labeled anchor mines nothing)
    val scored = c.join(q, col("query_id") =!= col("neighbor_id") &&
        col("__ql") =!= col("__cl"))
      .withColumn("score", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k) // raw rank filter → WindowGroupLimit
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** HARD-NEGATIVE mining from a PERSISTED ANN index (round 13 — the
    * billion-vector form [[hardNegatives]]' scaladoc names; the exact
    * brute-force baseline was the one remaining all-pairs-shaped cost
    * in the pipeline family): the compressed codes rank a candidate
    * POOL of `rerank` ids per anchor (the [[ivfPqTopK]] ADC scan —
    * ~nProbe/nCells of the codes, integer lookups, honoring the index's
    * stored residual flag), then ONLY those anchors × rerank ids read
    * their floats AND labels back from the primary store in one
    * id-keyed refine join, re-rank by exact cosine, and drop same-label
    * rows before the top-k. Cost ∝ anchors × rerank, never the corpus —
    * the index is built once and served across mining runs.
    *
    * Label semantics are [[hardNegatives]]' exactly: plain `=!=`
    * (null-propagating), so an UNLABELED item is never a known negative
    * and a null-labeled anchor mines nothing. Approximation lives ONLY
    * in pool recall (a true near-miss outside the ADC pool stays lost,
    * and a pool slot spent on a same-label near-duplicate is one fewer
    * negative candidate — hence the sizing rule): final ordering and
    * scores are exact cosine. Size `rerank ≥ k + the expected positive
    * count` per anchor so the anti-filter cannot starve the top-k.
    *
    * @param vectors the primary float store carrying BOTH `vecCol` and
    *                `labelCol` (the serving index stores codes, not
    *                floats — that split is the point of PQ)
    * @param rerank  ADC pool size per anchor (≥ k; k + expected
    *                positives, 3–10× k typical)
    * @return (query_id, rank, neighbor_id, score) — exact cosine, rank
    *         1..k per anchor
    */
  def hardNegativesFromIndex(anchors: DataFrame, index: IvfPqIndex,
      vectors: DataFrame, qidCol: String, idCol: String, vecCol: String,
      labelCol: String, k: Int, nProbe: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerank >= k, s"rerank pool $rerank must be >= k=$k")
    val pool = ivfPqTopK(anchors, index, qidCol, vecCol, rerank, nProbe)
      .select("query_id", "neighbor_id")
    val q = broadcast(anchors.select(col(qidCol).as("query_id"),
      col(vecCol).as("__qv"), col(labelCol).as("__ql")))
    // ONE refine read fetches floats and labels together — the pool is
    // anchors × rerank rows, so it broadcasts to the store's partitions
    val c = vectors.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), col(labelCol).as("__cl"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    broadcast(pool)
      .join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .filter(col("__ql") =!= col("__cl")) // null labels exclude
      .withColumn("score", cosine(col("__qv"), col("__cv")))
      // raw-int rank filter → partial WindowGroupLimit (bruteForceTopK)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Deterministic pseudo-random hyperplane component for plane p, dim j:
    * uniform in [-0.5, 0.5) derived from xxhash64 — no stored model, any
    * executor recomputes it identically (no broadcast needed).
    */
  private def planeComponent(p: Column, j: Column): Column =
    (pmod(xxhash64(p, j), lit(100000L)).cast("double") / lit(100000.0d)) - lit(0.5d)

  /** Sign bits over `nPlanes` random hyperplanes (bit p = sign of
    * dot(vec, plane_p)): `array<bigint>` of 0/1, length nPlanes. Map-side
    * only, computed once per row; lowered to the native single-pass
    * [[graft.functions.SignBits]] expression.
    */
  def lshBits(vec: Column, nPlanes: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(SignBits(expression(vec), nPlanes))
  }

  /** Reference Column-combinator form of [[lshBits]] — kept as the
    * differential-testing twin for the native kernel (each plane's
    * zip_with + aggregate re-runs interpreted per row).
    */
  def lshBitsColumnForm(vec: Column, nPlanes: Int): Column =
    transform(sequence(lit(0), lit(nPlanes - 1)), p => {
      val d = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, j) => v * planeComponent(p, j)),
        lit(0.0d), (acc, v) => acc + v)
      when(d >= 0, 1L).otherwise(0L)
    })

  /** Sign-bucket key over `nPlanes` random hyperplanes, folding [[lshBits]]
    * into one integer. Map-side only.
    */
  def lshBucket(vec: Column, nPlanes: Int): Column =
    aggregate(lshBits(vec, nPlanes), lit(0L), (acc, b) => acc * 2L + b)

  /** Band keys over a sign-bit array: slice `bits` into bands of
    * `rowsPerBand`, fold each band's bits into its bucket value. Returns
    * `array<struct<band:int, bucket:bigint>>` — the OR-construction: two
    * vectors are candidates when ALL bits agree in AT LEAST ONE band
    * (same shape as [[Dedup.lshBands]]).
    */
  def lshBandKeys(bits: Column, nPlanes: Int, rowsPerBand: Int): Column = {
    val nBands = nPlanes / rowsPerBand
    transform(sequence(lit(0), lit(nBands - 1)), b =>
      struct(
        b.cast("int").as("band"),
        aggregate(slice(bits, b * rowsPerBand + 1, lit(rowsPerBand)),
          lit(0L), (acc, v) => acc * 2L + v).as("bucket")))
  }

  /** Band width (sign bits per band) sized to the corpus: floor(log2(n))
    * − 2, floored at 4. In the banded OR-construction the candidate
    * fraction is ≈ nBands/2^width of the corpus per query (idealized
    * uniform buckets; measured within 1% of ideal on the test embeddings),
    * so the expected candidate set stays near 4·nBands·n/2^log2(n) ≈
    * constant·log-ish rows instead of a fixed fraction: 500 vectors →
    * 6-bit bands (4 bands ≈ 6%), 2 k → 8 (~1.6%), 1 M → 17 (~0.003%).
    * Narrower-than-log bands on a bigger corpus would stop pruning; this
    * is the knob that keeps per-query work constant-ish while the corpus
    * grows.
    */
  def autoPlanes(corpusCount: Long): Int =
    math.max(4, (63 - java.lang.Long.numberOfLeadingZeros(
      math.max(corpusCount, 1L))) - 2)

  /** Approximate top-k.
    *
    * With explicit `nPlanes`: single sign-bucket per query, optionally
    * multi-probed (own bucket + every Hamming-1 flip) — candidate volume ≈
    * (nPlanes+1)/2^nPlanes of the corpus per query.
    *
    * With `nPlanes <= 0` (the default): banded OR-construction sized from
    * the corpus count (one cheap count job) — `nBands` independent bands of
    * [[autoPlanes]] sign bits each; a corpus vector is a candidate when ANY
    * band agrees exactly (`arrays_overlap` on the band-key structs).
    * Independent bands hold recall where a single deep bucket loses it
    * (a near neighbor only needs ONE band uncut by a hyperplane), while
    * candidate volume ≈ nBands/2^width — measured 3.7% of the corpus at
    * width 8 on the 2 k-vector test set, shrinking as the corpus grows.
    *
    * Contract at scale: queries ≪ corpus (the query side is broadcast and
    * the corpus streamed, hashed once map-side). For corpus-sized query
    * workloads use the exploded (band, bucket) equi-join shape instead, as
    * [[cosineDupPairs]] does.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String,
      k: Int, nPlanes: Int = -1, multiProbe: Boolean = true,
      nBands: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    val candidates =
      if (nPlanes > 0) {
        val qBucket = lshBucket(col(vecCol), nPlanes)
        val probes =
          if (multiProbe)
            // exact bucket + one-bit flips: bucket ^ (1 << p) per plane
            concat(array(qBucket), transform(sequence(lit(0), lit(nPlanes - 1)),
              p => qBucket.bitwiseXOR(
                call_function("shiftleft", lit(1L), p.cast("int")))))
          else array(qBucket)
        val q = broadcast(queries.select(
          col(qidCol).as("query_id"), col(vecCol).as("__qv"),
          probes.as("__probes")))
        val c = corpus.select(
          col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
          lshBucket(col(vecCol), nPlanes).as("__bucket"))
        c.join(q, array_contains(col("__probes"), col("__bucket")))
      } else {
        val width = autoPlanes(corpus.count())
        val keys = lshBandKeys(
          lshBits(col(vecCol), width * nBands), width * nBands, width)
        val q = broadcast(queries.select(
          col(qidCol).as("query_id"), col(vecCol).as("__qv"),
          keys.as("__qb")))
        val c = corpus.select(
          col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
          keys.as("__cb"))
        c.join(q, arrays_overlap(col("__qb"), col("__cb")))
      }
    candidates
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(col("__qv"), col("__cv")))
      // raw-int rank filter → partial WindowGroupLimit (see bruteForceTopK)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** IVF (inverted-file) ANN: k-means-style coarse quantization with
    * deterministically seeded centroids (one refinement sweep), corpus
    * assigned to its nearest centroid, queries probing the `nProbe` nearest
    * cells. The centroid table is tiny (k × dim) and broadcast — the
    * classic billion-vector layout: one narrow assignment pass over the
    * corpus, candidate search touching ~nProbe/k of it.
    *
    * @return same shape as [[bruteForceTopK]]
    */
  /** The IVF coarse quantizer shared by [[ivfTopK]] and [[semDedup]]:
    * deterministically seeded centroids (hash-ordered first nCells) with
    * one Lloyd refinement sweep, and the corpus assigned to its nearest
    * cell. Returns the assignment `(neighbor_id, __cv, __cell)` plus the
    * refined centroid table (k × dim — broadcast-sized).
    */
  def ivfAssign(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int): (DataFrame, Array[Array[Float]]) = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    // seed centroids: deterministic sample (hash-ordered first nCells), then
    // one Lloyd refinement sweep — enough to spread the cells
    val seeds = c.orderBy(xxhash64(col("neighbor_id"))).limit(nCells)
      .select(col("__cv")).collect().map(_.getSeq[Float](0).toArray)
    val refined = lloydSweep(c, seeds)
    (c.withColumn("__cell", nearestCell(col("__cv"), refined)), refined)
  }

  private def nearestCell(vec: Column, cents: Array[Array[Float]]): Column =
    element_at(nearestCells(vec, cents, 1), 1)

  /** One Lloyd refinement sweep: assign to the nearest current centroid,
    * then per-cell means via (cell, dim) partial sums — k × dim tiny
    * rows collected, corpus scanned once. Means are computed over EXACT
    * 1e6-scaled longs (the Embeddings centroid pattern): a double-summed
    * mean is order-sensitive, so refined centroids would differ between
    * partitionings of the same data — a retried stage could flip a
    * boundary assignment. Integer sums are partition-invariant, and the
    * single double division + float rounding is IEEE-identical
    * everywhere (and replayable by the DuckDB oracle). Empty cells keep
    * their incoming centroid. */
  private def lloydSweep(c: DataFrame,
      cents: Array[Array[Float]]): Array[Array[Float]] = {
    val assigned = c.withColumn("__cell", nearestCell(col("__cv"), cents))
    val dim = cents.head.length
    val sums = assigned
      .select(col("__cell"),
        posexplode(Embeddings.scaledVec(col("__cv"))).as(Seq("__d", "__v")))
      .groupBy("__cell", "__d")
      .agg(sum(col("__v")).as("s"), count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getInt(0))
    cents.indices.map { cell =>
      sums.get(cell).map { rows =>
        val vec = new Array[Float](dim)
        rows.foreach(r => vec(r.getInt(1)) =
          (r.getLong(2).toDouble / (r.getLong(3) * Embeddings.Scale).toDouble).toFloat)
        vec
      }.getOrElse(cents(cell))
    }.toArray
  }

  /** DISTRIBUTED K-MEANS CLUSTERING (round 14, Lloyd 1982) as a
    * first-class operator — the clustering step SemDeDup-style pipelines
    * (Abbas et al. 2023) run before within-cluster dedup, and the
    * embedding-space stratifier for cluster-balanced sampling and
    * per-domain analysis. [[ivfAssign]]'s coarse quantizer iterated:
    * deterministic hash-ordered seeds, `sweeps` integer-exact Lloyd
    * refinement sweeps (each [[lloydSweep]] — partition-invariant scaled
    * sums, empty cells carrying their centroid forward), final
    * assignment by the same cosine nearest-cell kernel (spherical-style:
    * similarity is cosine, means are not re-normalized — the right
    * metric for the normalized-embedding corpora these pipelines use).
    * Deterministic end to end: a pure function of (corpus, k, sweeps),
    * partition-invariant and SQL-replayable (`pl_kmeans` hash-matches a
    * DuckDB replay of every sweep).
    *
    * 100 TB shape: per sweep ONE narrow corpus scan (the broadcast
    * k × dim centroid table rides the codegen'd NearestCells kernel —
    * no shuffle, no join) plus a (k × dim)-bounded partial-aggregated
    * sum; the driver holds k × dim floats, never rows. Cost is exactly
    * `sweeps + 1` corpus scans.
    *
    * @return (idCol, cluster) — cluster ∈ [0, k), the vector's nearest
    *         refined centroid
    */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sweeps: Int = 4): DataFrame = {
    val cents = kmeansTrain(corpus, idCol, vecCol, k, sweeps)
    kmeansAssignWith(corpus, idCol, vecCol, cents)
  }

  /** The TRAINING half of [[kmeansAssign]]: hash-ordered seeds +
    * `sweeps` Lloyd sweeps, returning the k × dim centroid table (the
    * model — driver-held, broadcast-sized). Split out so production
    * pipelines can train ONCE on the corpus and then assign every
    * nightly batch under the frozen model ([[kmeansAssignWith]]) — the
    * same frozen-model contract as the PQ/IVF lifecycles. */
  def kmeansTrain(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sweeps: Int = 4): Array[Array[Float]] = {
    require(k >= 1 && sweeps >= 0)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val seeds = c.orderBy(xxhash64(col("neighbor_id"))).limit(k)
      .select(col("__cv")).collect().map(_.getSeq[Float](0).toArray)
    // fail loudly BEFORE a sweep dereferences an empty/short centroid
    // set — the docstring promises cluster ∈ [0, k), which needs k seeds
    require(seeds.length == k,
      s"kmeansTrain needs at least k=$k corpus rows to seed k clusters; " +
        s"got ${seeds.length} — shrink k or grow the corpus")
    var cents = seeds
    var s = 0
    while (s < sweeps) { cents = lloydSweep(c, cents); s += 1 }
    cents
  }

  /** Assign any frame to FROZEN centroids — one narrow scan, no shuffle:
    * the nightly-batch half of the kmeans lifecycle (new documents get
    * yesterday's cluster geometry, so cluster-keyed downstream state —
    * per-cluster quotas, dedup partitions — stays comparable across
    * days). */
  def kmeansAssignWith(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame =
    df.select(col(idCol), col(vecCol).as("__cv"))
      .withColumn("__cell", nearestCell(col("__cv"), centroids))
      .select(col(idCol), col("__cell").cast("int").as("cluster"))

  /** Within-cluster cosine OBJECTIVE under frozen centroids (round 15)
    * — the number that picks k (the elbow) and exposes a degenerate
    * seeding: per assigned cluster, the member count and
    * Σ round(1e9·(1 − cos(v, centroid)))·— each vector's distance-like
    * term nano-rounded to a long BEFORE summing, so the aggregate is a
    * partition-invariant exact integer (the engine-wide discipline;
    * raw double sums are accumulation-order-dependent), riding
    * DECIMAL(38,0) because 2e9 nanos/vector times a 100 TB corpus
    * overflows BIGINT. Clusters ABSENT from the output are EMPTY —
    * the degenerate-seeding signal (k was too large, or the hash seeds
    * collapsed). One narrow corpus scan + a broadcast k-row centroid
    * join + one k-bounded aggregate; compare totals across `sweeps`
    * (or k) values to draw the elbow.
    *
    * @return (cluster, n, objective_nano) — assigned clusters only
    */
  def kmeansObjective(df: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = broadcast(centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "__cent"))
    df.select(col(vecCol).as("__cv"))
      .withColumn("cluster", nearestCell(col("__cv"), centroids).cast("int"))
      .join(cents, "cluster")
      .select(col("cluster"),
        round((lit(1.0) - cosine(col("__cv"), col("__cent"))) * lit(1e9))
          .cast("long").as("__d"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        sum(col("__d").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("objective_nano"))
  }

  /** Persist a trained kmeans model (one row per centroid). The float
    * vectors round-trip parquet exactly, so save → [[loadKmeansModel]] →
    * [[kmeansAssignWith]] is bit-identical to assigning with the
    * in-memory model (`pl_kmeans_batch` hash-proves it). Routed through
    * the overwrite chokepoint: each save COMMITS a new model version
    * (registry semantics — pinned consumers keep the model they loaded;
    * [[loadKmeansModelAt]] rolls back). */
  def saveKmeansModel(spark: SparkSession,
      centroids: Array[Array[Float]], dir: String): Unit = {
    import spark.implicits._
    Dedup.overwriteParquet(
      centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cluster", "centroid"),
      dir, numFiles = 1)
  }

  /** Load a persisted kmeans model back to the driver-held k × dim
    * array (bounded by construction — the model, never data). Pins the
    * newest committed version. */
  def loadKmeansModel(spark: SparkSession,
      dir: String): Array[Array[Float]] =
    kmeansModelRows(
      spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*))

  /** TIME TRAVEL for the model registry ([[SnapshotDir.filesAt]]): the
    * centroids AS OF a committed model version — re-scoring yesterday's
    * batch with yesterday's model, or rolling back a bad retrain. */
  def loadKmeansModelAt(spark: SparkSession, dir: String,
      version: Long): Array[Array[Float]] =
    kmeansModelRows(
      spark.read.parquet(SnapshotDir.filesAt(spark, dir, version): _*))

  private def kmeansModelRows(df: DataFrame): Array[Array[Float]] =
    df.orderBy("cluster")
      .collect()
      .map(_.getSeq[Float](1).toArray)

  /** A trained nearest-class-centroid model: class labels (sorted,
    * stringified) and their mean embeddings — |classes| × dim,
    * driver-held like the kmeans centroids. */
  final case class CentroidModel(labels: Array[String],
      centroids: Array[Array[Float]])

  /** NEAREST-CLASS-CENTROID embedding classifier (round 15) — the
    * embedding-space twin of [[graft.functions.TextAnalysis.nbTrain]]:
    * the standard cheap alternative to a learned classifier for
    * model-based curation when the corpus is already embedded (label a
    * seed set, classify everything by which class mean it is closest
    * to). Training is ONE pass: [[Embeddings.labelCentroids]]'s exact
    * integer per-label sums (the rational Σx·1e6 : n), one bounded
    * |classes|-row collect, each mean materialized through the SAME
    * one-IEEE-division-through-float formula as the Lloyd sweep — so
    * the oracle replays it digit for digit. Labels are compared as
    * strings (ties to the smaller); any label type casts in. */
  def centroidTrain(seed: DataFrame, vecCol: String,
      labelCol: String): CentroidModel = {
    val rows = Embeddings.labelCentroids(
      seed.select(col(labelCol).cast("string").as("__l"),
        col(vecCol).as("__cv")), "__l", "__cv")
      .collect()
    require(rows.nonEmpty,
      "centroidTrain needs a non-empty labeled seed set")
    val sorted = rows.sortBy(_.getString(0))
    val labels = sorted.map(_.getString(0))
    val cents = sorted.map { r =>
      val s = r.getSeq[Long](1)
      val n = r.getLong(2)
      s.map(v => (v.toDouble / (n * Embeddings.Scale).toDouble).toFloat)
        .toArray
    }
    CentroidModel(labels, cents)
  }

  /** Classify with a FROZEN [[CentroidModel]] plus the EVIDENCE: per
    * row the nearest class mean by cosine, the winning cosine
    * nano-rounded to an exact long, and the margin over the runner-up
    * class — the threshold a curation filter cuts on (the
    * [[graft.functions.TextAnalysis.nbClassifyScored]] contract for
    * embedded corpora). ONE narrow codegen'd pass: the |classes| × dim
    * model rides the row as literals (cosine vs each class mean +
    * one scalar `sort_array` argmax — no join, no shuffle, no
    * doc × class rows), the kmeans frozen-assignment shape. Ties go to
    * the smaller label; single-class models have null margin.
    *
    * @return (idCol, predicted, score_nano, margin_nano)
    */
  def centroidClassifyScored(df: DataFrame, idCol: String,
      vecCol: String, model: CentroidModel): DataFrame = {
    val entries = model.labels.zip(model.centroids).map { case (l, c) =>
      struct(
        (-round(cosine(col("__cv"), typedLit(c.toSeq)) * lit(1e9)))
          .cast("long").as("ns"),
        lit(l).as("l"))
    }
    val arr = sort_array(array(entries.toIndexedSeq: _*))
    df.select(col(idCol), col(vecCol).as("__cv"))
      .select(col(idCol),
        arr(0)("l").as("predicted"),
        (-arr(0)("ns")).as("score_nano"),
        (if (model.labels.length > 1) arr(1)("ns") - arr(0)("ns")
         else lit(null).cast("long")).as("margin_nano"))
  }

  /** [[centroidClassifyScored]] minus the evidence columns.
    * @return (idCol, predicted) */
  def centroidClassify(df: DataFrame, idCol: String, vecCol: String,
      model: CentroidModel): DataFrame =
    centroidClassifyScored(df, idCol, vecCol, model)
      .select(col(idCol), col("predicted"))

  /** The embedding-side threshold filter: keep rows the frozen model
    * assigns `keepLabel` with at least `minMarginNano` nano-cosine of
    * margin over the runner-up class.
    * @return (idCol, margin_nano) */
  def centroidFilter(df: DataFrame, idCol: String, vecCol: String,
      model: CentroidModel, keepLabel: String,
      minMarginNano: Long): DataFrame = {
    // fail loudly on the degenerate model (the kmeansTrain precedent):
    // a single-class model has a null margin on every row, so the
    // threshold filter would silently keep ZERO rows even though every
    // row is predicted keepLabel
    require(model.labels.length >= 2,
      "centroidFilter needs a model with at least 2 classes — a " +
        "single-class model has no runner-up margin to threshold on")
    centroidClassifyScored(df, idCol, vecCol, model)
      .filter(col("predicted") === keepLabel &&
        col("margin_nano") >= lit(minMarginNano))
      .select(col(idCol), col("margin_nano"))
  }

  /** PERCENTILE-threshold curation for embedded corpora (round 16):
    * keep the top `fraction` of keepLabel-predicted rows by margin —
    * the [[graft.functions.TextAnalysis.nbFilterTopFraction]] contract
    * with the nearest-class-centroid classifier. The cutoff is the
    * exact ceil(p·n)-th largest margin via
    * [[graft.functions.Sampling.kthLargest]] (bounded histogram
    * passes over a checkpointed narrow frame — never a global sort);
    * ties at the cutoff are kept.
    * @return (idCol, margin_nano) */
  def centroidFilterTopFraction(df: DataFrame, idCol: String,
      vecCol: String, model: CentroidModel, keepLabel: String,
      fraction: Double): DataFrame = {
    require(model.labels.length >= 2,
      "centroidFilterTopFraction needs a model with at least 2 " +
        "classes — a single-class model has no runner-up margin to " +
        "rank on")
    Sampling.keepTopFraction(
      centroidClassifyScored(df, idCol, vecCol, model)
        .filter(col("predicted") === keepLabel)
        .select(col(idCol), col("margin_nano")),
      "margin_nano", fraction)
  }

  /** Persist a [[CentroidModel]] (one row per class). Floats round-trip
    * parquet exactly; routed through the overwrite chokepoint, so the
    * model dir has registry semantics (each retrain commits a version;
    * [[loadCentroidModelAt]] rolls back). */
  def saveCentroidModel(spark: SparkSession, model: CentroidModel,
      dir: String): Unit = {
    import spark.implicits._
    Dedup.overwriteParquet(
      model.labels.zip(model.centroids)
        .map { case (l, c) => (l, c.toSeq) }.toSeq
        .toDF("label", "centroid"),
      dir, numFiles = 1)
  }

  /** Load a persisted [[CentroidModel]] (pins the newest committed
    * version). */
  def loadCentroidModel(spark: SparkSession, dir: String): CentroidModel =
    centroidModelRows(
      spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*))

  /** TIME TRAVEL for the centroid-model registry. */
  def loadCentroidModelAt(spark: SparkSession, dir: String,
      version: Long): CentroidModel =
    centroidModelRows(
      spark.read.parquet(SnapshotDir.filesAt(spark, dir, version): _*))

  private def centroidModelRows(df: DataFrame): CentroidModel = {
    val rows = df.orderBy("label").collect()
    CentroidModel(rows.map(_.getString(0)),
      rows.map(_.getSeq[Float](1).toArray))
  }

  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (corpusCells, refined) = ivfAssign(corpus, idCol, vecCol, nCells)
    val q = broadcast(queries
      .select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__cells", nearestCells(col("__qv"), refined, nProbe)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    corpusCells
      .join(q, array_contains(col("__cells"), col("__cell")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(col("__qv"), col("__cv")))
      // raw-int rank filter → partial WindowGroupLimit (see bruteForceTopK)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Product quantization (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): split the `dim`-dimensional space into
    * `m` subspaces, learn a `ksub`-entry codebook per subspace
    * (deterministically seeded — the same hash-ordered rows as
    * [[ivfAssign]] — plus one Lloyd sweep), and store each vector as m
    * byte codes: a 32× compression of a float corpus, THE memory layout
    * for billion-vector ANN serving.
    *
    * Everything is integer-exact for cross-engine comparability:
    * assignments minimize the scaled-integer squared L2 (Σ of squared
    * differences of 1e6-scaled longs — partition-invariant, no float
    * accumulation order), codebook means are exact integer sums with one
    * IEEE double division per component (the [[ivfAssign]] pattern), and
    * ADC scores are scaled-integer inner products.
    *
    * 100 TB shape: codebooks are m × ksub × (dim/m) floats — broadcast
    * literals; encoding is one narrow map pass; the only collected data
    * is the m × ksub × (dim/m) refinement sums (bounded, the
    * IVF-centroid precedent).
    *
    * @return (encoded corpus (id, __codes array<int>), codebooks(m)(ksub))
    */
  /** HALF_UP long scaling of a centroid component — matches both Spark's
    * `round()` and DuckDB's `round()` (away from zero), where
    * `math.round` (floor(x+0.5)) would differ on negative .5 ties. */
  private def scaleLong(v: Float): Long =
    java.math.BigDecimal.valueOf(v.toDouble * Embeddings.Scale)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** The (id, scaled-long vector) rows with a checkpoint barrier: the
    * pre-materialized "__sv" column is what the m·ksub·sub element_at
    * accesses of the code assignment walk — referencing the scaling
    * transform inline would let Catalyst re-inline it into every access
    * (the minhash-signature 16× recompute precedent, measured 12× here).
    * Carrying the float column too would pin a second full copy of the
    * corpus in executor storage for nothing. */
  private def scaledRows(rows: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    FanOut( // the m·ksub·sub code-assignment kernel downstream is the
      // expensive narrow pass — spread a single-split input first
      rows.select(col(idCol).as("neighbor_id"),
        Embeddings.scaledVec(col(vecCol)).as("__sv")))
      .localCheckpoint()

  /** The m-wide code-assignment column over a pre-materialized "__sv":
    * for each subspace, the ksub-candidate argmin of the scaled-integer
    * squared L2. The codebook ships as ONE nested literal (m × ksub ×
    * sub scaled longs) walked by higher-order functions — a
    * LITERAL-EXPANDED form (one sub-expression per centroid component,
    * ~m·ksub·sub terms) makes Catalyst ANALYSIS itself the bottleneck
    * (measured 13 s for this gate); the compact tree is constant-size
    * regardless of codebook dimensions. Integer adds fold order-free. */
  private def pqCodesCol(book: Array[Array[Array[Float]]]): Column = {
    val m = book.length
    val ksub = book(0).length
    val sub = book(0)(0).length
    val cb = typedlit(book.map(_.map(_.map(scaleLong).toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(m - 1)), mi => {
      val cands = transform(sequence(lit(0), lit(ksub - 1)), ci => {
        val cent = element_at(element_at(cb, mi.cast("int") + 1),
          ci.cast("int") + 1)
        val d = aggregate(sequence(lit(1), lit(sub)), lit(0L),
          (acc, j) => {
            val diff = element_at(col("__sv"), (mi * sub + j).cast("int")) -
              element_at(cent, j.cast("int"))
            acc + diff * diff
          })
        struct(d.as("d"), ci.cast("int").as("c"))
      })
      array_min(cands)("c")
    })
  }

  /** ENCODE rows under FROZEN codebooks — no training, one narrow map
    * pass (plus the scaling checkpoint): the nightly incremental step of
    * the persisted-PQ lifecycle, and the shared final stage of
    * [[pqEncode]]. Returns (neighbor_id, __codes array<int>). */
  def pqEncodeWith(rows: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Float]]]): DataFrame =
    scaledRows(rows, idCol, vecCol)
      .withColumn("__codes", pqCodesCol(books))
      .drop("__sv")

  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16): (DataFrame, Array[Array[Array[Float]]]) = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val seedRows = c.orderBy(xxhash64(col("neighbor_id"))).limit(ksub)
      .select(col("__cv")).collect().map(_.getSeq[Float](0).toArray)
    require(seedRows.length == ksub, s"corpus smaller than ksub=$ksub")
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    def sliceBook(rows: Array[Array[Float]]): Array[Array[Array[Float]]] =
      Array.tabulate(m)(mi => rows.map(_.slice(mi * sub, (mi + 1) * sub)))
    val books0 = sliceBook(seedRows)

    val withSv = scaledRows(c, "neighbor_id", "__cv")

    // one Lloyd sweep: exact integer (subspace, code, dim) sums over ONE
    // corpus pass; m × ksub × sub bounded rows collect
    val assigned0 = withSv.withColumn("__codes", pqCodesCol(books0))
    val sums = assigned0
      .select(col("__codes"),
        posexplode(col("__sv")).as(Seq("__d", "__v")))
      .withColumn("__mi", (col("__d") / sub).cast("int"))
      .withColumn("__code", element_at(col("__codes"), col("__mi") + 1))
      .groupBy("__mi", "__code", "__d")
      .agg(sum(col("__v")).as("s"), count(lit(1)).as("n"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
    val refined: Array[Array[Array[Float]]] =
      Array.tabulate(m) { mi =>
        Array.tabulate(ksub) { ci =>
          sums.get((mi, ci)).map { rows =>
            val cent = books0(mi)(ci).clone()
            rows.foreach { r =>
              cent(r.getInt(2) - mi * sub) =
                (r.getLong(3).toDouble /
                  (r.getLong(4) * Embeddings.Scale).toDouble).toFloat
            }
            cent
          }.getOrElse(books0(mi)(ci))
        }
      }
    (withSv.withColumn("__codes", pqCodesCol(refined))
      .drop("__sv"), refined)
  }

  /** PQ top-k by asymmetric distance computation (ADC): each query
    * precomputes its m × ksub table of scaled-integer inner products
    * against the codebooks (query side is broadcast-small), and every
    * corpus CODE vector scores as the Σ of m integer table lookups —
    * the corpus floats are never touched again. Returns
    * (query_id, rank, neighbor_id, score_scaled) ranked by the exact
    * integer ADC score (descending inner product).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16): DataFrame = {
    val (codes, books) = pqEncode(corpus, idCol, vecCol, m, ksub)
    pqAdcTopK(codes, books, queries, qidCol, vecCol, k)
  }

  /** PQ top-k against a PERSISTED index (round 12) — the production
    * serving form: codebooks trained once, codes encoded nightly, the
    * probe never touches corpus floats or retrains. */
  def pqTopK(queries: DataFrame, index: PqIndex,
      qidCol: String, vecCol: String, k: Int): DataFrame =
    pqAdcTopK(index.codes, index.books, queries, qidCol, vecCol, k)

  /** The per-query ADC table column over a pre-materialized "__qsv":
    * m × ksub scaled-integer inner products against the codebooks (same
    * compact literal-codebook + HOF shape as the encoder — see the
    * analysis-cost note there). */
  private def adcTableCol(books: Array[Array[Array[Float]]]): Column = {
    val m = books.length
    val ksub = books(0).length
    val sub = books(0)(0).length
    val cb = typedlit(books.map(_.map(_.map(scaleLong).toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(m - 1)), mi =>
      transform(sequence(lit(0), lit(ksub - 1)), ci => {
        val cent = element_at(element_at(cb, mi.cast("int") + 1),
          ci.cast("int") + 1)
        aggregate(sequence(lit(1), lit(sub)), lit(0L), (acc, j) =>
          acc + element_at(col("__qsv"), (mi * sub + j).cast("int")) *
            element_at(cent, j.cast("int")))
      }))
  }

  /** Σ of m integer "__tab" lookups indexed by the row's "__codes". */
  private def adcScoreCol(m: Int): Column =
    (0 until m).map { mi =>
      element_at(element_at(col("__tab"), mi + 1),
        element_at(col("__codes"), mi + 1) + 1)
    }.reduce(_ + _)

  private def pqAdcTopK(codes: DataFrame,
      books: Array[Array[Array[Float]]], queries: DataFrame,
      qidCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries
      .select(col(qidCol).as("query_id"),
        Embeddings.scaledVec(col(vecCol)).as("__qsv"))
      .localCheckpoint() // materialize __qsv before the HOF table walks it
      .withColumn("__tab", adcTableCol(books))
      .drop("__qsv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_scaled").desc, col("neighbor_id"))
    codes.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("score_scaled", adcScoreCol(books.length))
      // raw-int rank filter → partial WindowGroupLimit (see bruteForceTopK)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("score_scaled"))
  }

  /** IVF-PQ (the canonical billion-vector serving composition, Jégou
    * 2011 §IV): the IVF coarse quantizer prunes the search to `nProbe`
    * cells while the PQ codes stand in for the corpus floats — memory is
    * m bytes + one cell id per vector, and a query touches ~nProbe/nCells
    * of the codes with integer ADC lookups only. This is the
    * non-residual IVFADC variant (codes quantize the vectors themselves,
    * not the cell residuals — the standard memory-bound trade), so both
    * proven components compose without a third codebook, and the whole
    * chain keeps the hash-exact oracle.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16): DataFrame = {
    val (corpusCells, cents) = ivfAssign(corpus, idCol, vecCol, nCells)
    val (codes, books) = pqEncode(corpus, idCol, vecCol, m, ksub)
    val coded = corpusCells.select("neighbor_id", "__cell")
      .join(codes, "neighbor_id")
    ivfPqAdcTopK(coded, cents, books, queries, qidCol, vecCol, k, nProbe)
  }

  /** IVF-PQ top-k against a PERSISTED index (round 12): cells prune,
    * stored codes stand in for the floats, nothing retrains. Branches
    * on the index's stored `residual` flag, so a residual index always
    * probes with the residual score decomposition. */
  def ivfPqTopK(queries: DataFrame, index: IvfPqIndex,
      qidCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame =
    if (index.residual)
      ivfResidualAdcTopK(index.cellCodes, index.centroids, index.books,
        queries, qidCol, vecCol, k, nProbe)
    else
      ivfPqAdcTopK(index.cellCodes, index.centroids, index.books,
        queries, qidCol, vecCol, k, nProbe)

  /** IVF-PQ with an exact REFINE stage (round 12 — the standard serving
    * practice ADC alone skips): the ADC scan ranks a candidate pool of
    * `rerank` ids per query from the compressed codes, then ONLY those
    * `queries × rerank` ids read their full float vectors back (the
    * refine read — an id-keyed join against the primary store, touching
    * ~rerank rows per query out of billions) and re-rank by exact
    * cosine. Quantization error then affects RECALL only (a true
    * neighbor outside the ADC pool stays lost) — never the final
    * ordering or scores, which are exact. The corpus floats come from
    * `vectors` (the primary store) because the serving index stores
    * codes, not floats — that split is the point of PQ.
    *
    * @param rerank ADC pool size per query (≥ k; 3–10× k is typical)
    * @return (query_id, rank, neighbor_id, score) — exact cosine, rank
    *         1..k per query
    */
  def ivfPqTopKRefined(queries: DataFrame, index: IvfPqIndex,
      vectors: DataFrame, qidCol: String, idCol: String, vecCol: String,
      k: Int, nProbe: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerank >= k, s"rerank pool $rerank must be >= k=$k")
    // the pool ranking must honor the index's stored residual flag like
    // every other probe of a persisted index — a residual index ranked
    // with the raw-vector ADC form would silently drop true neighbors
    // from high-inner-product cells (the exact-dot centroid term
    // dominates cross-cell ordering)
    val pool = (if (index.residual)
      ivfResidualAdcTopK(index.cellCodes, index.centroids, index.books,
        queries, qidCol, vecCol, rerank, nProbe)
    else
      ivfPqAdcTopK(index.cellCodes, index.centroids, index.books,
        queries, qidCol, vecCol, rerank, nProbe))
      .select("query_id", "neighbor_id")
    val q = broadcast(queries
      .select(col(qidCol).as("query_id"), col(vecCol).as("__qv")))
    val c = vectors.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    pool
      .join(c, Seq("neighbor_id")) // the refine read: rerank ids/query
      .join(q, Seq("query_id"))
      .withColumn("score", cosine(col("__qv"), col("__cv")))
      // raw-int rank filter → partial WindowGroupLimit (see bruteForceTopK)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** RESIDUAL IVFADC (round 12 — the true Jégou 2011 §IV form; the r9
    * [[ivfPqTopK]] is the documented non-residual simplification): the
    * PQ codebooks learn on the RESIDUALS v − c(cell) instead of the raw
    * vectors. Once the coarse cells localize the space the residuals
    * span a fraction of the vectors' range, so the same m × ksub budget
    * quantizes finer — the standard accuracy upgrade every production
    * IVFADC deployment ships.
    *
    * The whole chain stays integer-exact, which is what makes a
    * hash-exact cross-engine oracle possible where float residuals
    * would drift: residuals are defined in the SCALED space,
    * r ≔ sv − scaleLong(cent(cell)) (long arithmetic), carried as the
    * float (r/1e6) — EXACT, since |r| ≲ 2·10⁶ < 2²⁴ — and re-scaled
    * back to precisely r inside [[pqEncode]] (the HALF_UP round-trip);
    * and the score decomposes EXACTLY in integers:
    * dot_s(q, v) = dot_s(q, cent(cell)) + dot_s(q, r), because
    * sv = scent + r by definition. The first term is computed exactly
    * per (query, cell) on the broadcast query side (nCells × dim
    * integer products); ADC approximates only the second. Same probe
    * cost as [[ivfPqTopK]]: ~nProbe/nCells of the codes, integer
    * lookups, floats never touched after encoding.
    */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16): DataFrame = {
    val index = ivfAdcIndex(corpus, idCol, vecCol, nCells, m, ksub)
    ivfPqTopK(queries, index, qidCol, vecCol, k, nProbe)
  }

  /** Build a RESIDUAL [[IvfPqIndex]] (`residual = true`): same storage
    * layout as the non-residual form — one (id, cell, codes) row per
    * vector plus the two bounded model tables — but the codes quantize
    * residuals, and the flag makes the index self-describing: load /
    * append / probe all branch on it, so a persisted residual index can
    * never be silently probed (or appended to) with raw-vector
    * arithmetic. */
  def ivfAdcIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 8, ksub: Int = 16): IvfPqIndex = {
    val (assigned, cents) = ivfAssign(corpus, idCol, vecCol, nCells)
    // checkpoint (id, cell, sv) so the residual transform reads a stored
    // column (the CollapseProject re-inline trap), then derive the exact
    // float carrier of the integer residual
    val withSv = assigned.select(col("neighbor_id"), col("__cell"),
        Embeddings.scaledVec(col("__cv")).as("__sv"))
      .localCheckpoint()
    val resid = withSv.select(col("neighbor_id"), col("__cell"),
      residualCarrierCol(cents).as("__rv"))
    val (codes, books) = pqEncode(resid, "neighbor_id", "__rv", m, ksub)
    IvfPqIndex(
      withSv.select("neighbor_id", "__cell").join(codes, "neighbor_id"),
      cents, books, residual = true)
  }

  /** The exact float carrier of the integer residual
    * r = __sv − scaleLong(cent(__cell)): (r/1e6).toFloat, exact because
    * |r| ≲ 2·10⁶ < 2²⁴, and re-scaling inside [[pqEncode]]/
    * [[pqEncodeWith]] recovers precisely r (the HALF_UP round-trip).
    * Reads the pre-materialized "__sv" and "__cell" columns. */
  private def residualCarrierCol(cents: Array[Array[Float]]): Column = {
    val dim = cents.head.length
    val centLit = typedlit(cents.map(_.map(scaleLong).toSeq).toSeq)
    transform(sequence(lit(1), lit(dim)), j =>
      ((element_at(col("__sv"), j.cast("int")) -
        element_at(element_at(centLit, col("__cell") + 1),
          j.cast("int")))
        .cast("double") / Embeddings.Scale).cast("float"))
  }

  private def ivfResidualAdcTopK(coded: DataFrame,
      cents: Array[Array[Float]], books: Array[Array[Array[Float]]],
      queries: DataFrame, qidCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nCells = cents.length
    val dim = cents.head.length
    val centLit = typedlit(cents.map(_.map(scaleLong).toSeq).toSeq)
    // per-cell EXACT centroid inner products ride the broadcast query
    // row: nCells × dim integer multiplies per query, once
    val cellIps = transform(sequence(lit(0), lit(nCells - 1)), ci =>
      aggregate(sequence(lit(1), lit(dim)), lit(0L), (acc, j) =>
        acc + element_at(col("__qsv"), j.cast("int")) *
          element_at(element_at(centLit, ci.cast("int") + 1),
            j.cast("int"))))
    val q = broadcast(queries
      .select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
        Embeddings.scaledVec(col(vecCol)).as("__qsv"))
      .localCheckpoint()
      .withColumn("__cells", nearestCells(col("__qv"), cents, nProbe))
      .withColumn("__tab", adcTableCol(books))
      .withColumn("__cellip", cellIps)
      .drop("__qv", "__qsv"))
    // dot_s(q, v) = dot_s(q, cent(cell)) + dot_s(q, r) EXACTLY; ADC
    // approximates only the residual term
    val score = element_at(col("__cellip"), col("__cell") + 1) +
      adcScoreCol(books.length)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_scaled").desc, col("neighbor_id"))
    coded.join(q, array_contains(col("__cells"), col("__cell")) &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("score_scaled", score)
      // raw-int rank filter → partial WindowGroupLimit (see bruteForceTopK)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("score_scaled"))
  }

  private[graft] def ivfPqAdcTopK(coded: DataFrame,
      cents: Array[Array[Float]], books: Array[Array[Array[Float]]],
      queries: DataFrame, qidCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries
      .select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
        Embeddings.scaledVec(col(vecCol)).as("__qsv"))
      .localCheckpoint()
      .withColumn("__cells", nearestCells(col("__qv"), cents, nProbe))
      .withColumn("__tab", adcTableCol(books))
      .drop("__qv", "__qsv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_scaled").desc, col("neighbor_id"))
    coded.join(q, array_contains(col("__cells"), col("__cell")) &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("score_scaled", adcScoreCol(books.length))
      // raw-int rank filter → partial WindowGroupLimit (see bruteForceTopK)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("score_scaled"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
    * with the IVF coarse quantizer, then inside each cluster drop every
    * vector that has a LOWER-id cluster-mate with cosine ≥ threshold —
    * the deterministic stand-in for the paper's "keep one per ε-ball"
    * (lowest id ≈ the kept exemplar; stable under repartitioning).
    *
    * Scale shape: the pairwise verify runs per CLUSTER, never across the
    * corpus — Σ|cellᵢ|² work, the paper's own cost model (k grows with
    * corpus size to keep cells bounded); the shuffle is one cell-keyed
    * exchange of (id, vec) pairs, and the centroid table stays k × dim
    * broadcast-sized.
    *
    * @return kept rows: (id, cell) — dropped ids are the near-duplicates
    */
  def semDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16): DataFrame = {
    val (assigned, _) = ivfAssign(corpus, idCol, vecCol, nCells)
    val a = assigned.select(
      col("neighbor_id").as("__ida"), col("__cv").as("__va"), col("__cell"))
    val b = assigned.select(
      col("neighbor_id").as("__idb"), col("__cv").as("__vb"), col("__cell"))
    val drops = a.join(b, "__cell")
      .filter(col("__ida") < col("__idb"))
      .filter(cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("__idb")).distinct()
    assigned.join(drops, assigned("neighbor_id") === drops("__idb"),
        "left_anti")
      .select(col("neighbor_id").as(idCol), col("__cell").as("cell"))
  }

  /** Incremental (cross-snapshot) SemDeDup: drop BATCH vectors that are
    * near-duplicates (cosine ≥ threshold) of the existing CORPUS — the
    * "dedupe the new crawl against what we already have" pass a
    * continuously-growing 100 TB store runs on every ingest, where
    * re-running full SemDeDup over corpus+batch would re-pay the corpus.
    *
    * Shape: the corpus is IVF-assigned ONCE (in practice the index is
    * precomputed and stored — cells + centroids are the index); batch
    * vectors probe their `nProbe` nearest cells and compare only against
    * those cells' corpus members (never the whole corpus), then one
    * anti-join drops the matched batch ids. Centroids derive from the
    * CORPUS (the index's quantizer), so batch assignment never reshapes
    * the index — the incremental contract.
    *
    * @return surviving batch rows: (id, probed cell)
    */
  def incrementalSemDedup(
      batch: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16, nProbe: Int = 2): DataFrame =
    incrementalSemDedup(batch, ivfIndex(corpus, idCol, vecCol, nCells),
      idCol, vecCol, threshold, nProbe)

  /** A built IVF corpus index: the cell-assigned (id, vector, cell) rows
    * plus the frozen centroid table (the coarse quantizer — bounded
    * k × dim). The third member of the index-lifecycle family
    * ([[graft.functions.Dedup.MinhashIndex]], `HammingIndex`): build once
    * ([[ivfIndex]]), persist ([[saveIvfIndex]]), probe per ingest
    * ([[loadIvfIndex]] + [[incrementalSemDedup]]), append the ingest's
    * survivors ([[appendToIvfIndex]] — assigned under the STORED
    * centroids, so the quantizer never reshapes).
    */
  final case class IvfIndex(cells: DataFrame, centroids: Array[Array[Float]])

  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16): IvfIndex = {
    val (assigned, cents) = ivfAssign(corpus, idCol, vecCol, nCells)
    IvfIndex(assigned, cents)
  }

  /** Persist an [[IvfIndex]] as parquet under `path` (`cells/`,
    * committed as snapshot v1, + write-once `centroids/` — float arrays
    * round-trip parquet exactly, so the loaded quantizer is
    * bit-identical). Overwrites. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    Dedup.saveParquet(index.cells, s"$path/cells")
    val spark = index.cells.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load a persisted [[IvfIndex]] — the cell rows are a pinned file-set
    * snapshot (the [[graft.functions.Dedup.snapshotFiles]] rootPaths
    * trap), the centroids a bounded k × dim collect. */
  private def loadCentroids(spark: SparkSession, path: String)
      : Array[Array[Float]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Float](1).toArray)

  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(
        Dedup.snapshotFiles(spark, s"$path/cells"): _*),
      loadCentroids(spark, path))

  /** APPEND an ingest's surviving (id, vector) rows to a persisted
    * index: survivors are assigned under the index's STORED centroids
    * (the quantizer is frozen — the incremental contract) and only their
    * rows append; the corpus cells are never read or rewritten. */
  def appendToIvfIndex(spark: SparkSession, path: String,
      survivors: DataFrame, idCol: String, vecCol: String): Unit = {
    // read ONLY the bounded centroid table — going through loadIvfIndex
    // would list every cells/ data file just to discard the DataFrame,
    // and append cost must stay ∝ the batch
    val cents = loadCentroids(spark, path)
    val rows = survivors
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cell", element_at(
        nearestCells(col("__cv"), cents, 1), 1))
    Dedup.appendParquet(rows, s"$path/cells")
  }

  /** Compact a persisted [[IvfIndex]]'s `cells/` table (the centroid
    * table is one tiny file and never grows). Same maintenance job as
    * [[graft.functions.Dedup.compactMinhashIndex]]. */
  def compactIvfIndex(spark: SparkSession, path: String,
      numFiles: Int = 32): Unit =
    Dedup.compactParquetDir(spark, s"$path/cells", numFiles)

  /** A built PQ corpus index (round 12 — the codebook-lifecycle member
    * of the index family next to [[graft.functions.Dedup.MinhashIndex]],
    * `HammingIndex` and [[IvfIndex]]): the byte-coded corpus rows
    * (neighbor_id, __codes) plus the m × ksub × (dim/m) codebooks —
    * the m bytes/vector serving layout. The billion-vector production
    * form trains the codebooks ONCE ([[pqIndex]]), persists them
    * ([[savePqIndex]]), encodes nightly batches incrementally under the
    * FROZEN books ([[appendToPqIndex]] → [[pqEncodeWith]] — cost ∝
    * batch, one narrow map pass), and serves ADC probes from the stored
    * codes ([[loadPqIndex]] + `pqTopK(queries, index, …)`) — never
    * relearning per call (the r11 gap this closes). */
  final case class PqIndex(codes: DataFrame,
      books: Array[Array[Array[Float]]])

  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16): PqIndex = {
    val (codes, books) = pqEncode(corpus, idCol, vecCol, m, ksub)
    PqIndex(codes, books)
  }

  /** Codebooks persist as (mi, ci, cent array<float>) rows — float
    * arrays round-trip parquet exactly (the [[saveIvfIndex]] precedent),
    * so the loaded quantizer is bit-identical and re-encoding any vector
    * under the loaded books yields the same codes. */
  private def saveBooks(spark: SparkSession,
      books: Array[Array[Array[Float]]], dir: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (sub, mi) =>
      sub.zipWithIndex.map { case (cent, ci) => (mi, ci, cent.toSeq) }
    }.toSeq.toDF("mi", "ci", "cent")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def loadBooks(spark: SparkSession,
      dir: String): Array[Array[Array[Float]]] = {
    val rows = spark.read.parquet(dir)
      .orderBy("mi", "ci").collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, g) =>
      g.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)
    }.toArray
  }

  /** Persist a [[PqIndex]] under `path` (`codes/`, committed as
    * snapshot v1, + write-once `books/`). Overwrites. */
  def savePqIndex(index: PqIndex, path: String): Unit = {
    Dedup.saveParquet(index.codes, s"$path/codes")
    saveBooks(index.codes.sparkSession, index.books, s"$path/books")
  }

  /** Load a persisted [[PqIndex]] — codes are a pinned file-set
    * snapshot (the [[graft.functions.Dedup.snapshotFiles]] rootPaths
    * trap), books a bounded m × ksub × (dim/m) collect. */
  def loadPqIndex(spark: SparkSession, path: String): PqIndex =
    PqIndex(
      spark.read.parquet(Dedup.snapshotFiles(spark, s"$path/codes"): _*),
      loadBooks(spark, s"$path/books"))

  /** APPEND a batch's rows to a persisted [[PqIndex]]: encode under the
    * index's STORED codebooks (frozen quantizer — the incremental
    * contract) and append only the batch's code rows; the corpus codes
    * are never read or rewritten, and nothing retrains. */
  def appendToPqIndex(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Unit =
    Dedup.appendParquet(
      pqEncodeWith(batch, idCol, vecCol, loadBooks(spark, s"$path/books")),
      s"$path/codes")

  /** Compact a persisted [[PqIndex]]'s `codes/` table. */
  def compactPqIndex(spark: SparkSession, path: String,
      numFiles: Int = 32): Unit =
    Dedup.compactParquetDir(spark, s"$path/codes", numFiles)

  /** A built IVF-PQ serving index (round 12): ONE row per corpus vector
    * — its coarse cell plus its m byte codes (`cellCodes`:
    * (neighbor_id, __cell, __codes)) — beside the two bounded model
    * tables (IVF centroids, PQ codebooks). This is the canonical
    * billion-vector memory layout: a query touches ~nProbe/nCells of
    * the code rows with integer ADC lookups; the corpus floats exist
    * only at build/append time, never at serving time. */
  final case class IvfPqIndex(cellCodes: DataFrame,
      centroids: Array[Array[Float]], books: Array[Array[Array[Float]]],
      residual: Boolean = false)

  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 8, ksub: Int = 16): IvfPqIndex = {
    val (assigned, cents) = ivfAssign(corpus, idCol, vecCol, nCells)
    val (codes, books) = pqEncode(corpus, idCol, vecCol, m, ksub)
    IvfPqIndex(
      assigned.select("neighbor_id", "__cell").join(codes, "neighbor_id"),
      cents, books)
  }

  /** Persist an [[IvfPqIndex]] under `path` (`cellcodes/` +
    * `centroids/` + `books/` + one-row `meta/` carrying the residual
    * flag, so the stored index is self-describing). `cellcodes/` is
    * committed as snapshot v1; the other three tables are write-once.
    * Overwrites. */
  def saveIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    val spark = index.cellCodes.sparkSession
    import spark.implicits._
    // meta/ is written FIRST: a save that crashes mid-way then leaves an
    // index whose load fails loudly on the missing data tables, instead
    // of one whose tables all read cleanly while the absent meta/
    // defaults the residual flag to false — which would serve a residual
    // index with raw-vector arithmetic, the silent mix-up the flag
    // exists to prevent. (Re-saving OVER a live index is not
    // crash-atomic across the four tables — a save replaces each table
    // and its history; save to a fresh path for that.)
    Seq(index.residual).toDF("residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    Dedup.saveParquet(index.cellCodes, s"$path/cellcodes")
    index.centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    saveBooks(spark, index.books, s"$path/books")
  }

  private def loadIvfPqResidualFlag(
      spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pre-r12 indexes have no meta/ — they were all non-residual
    fs.exists(p) &&
      spark.read.parquet(s"$path/meta").collect().head
        .getAs[Boolean]("residual")
  }

  def loadIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex =
    IvfPqIndex(
      spark.read.parquet(
        Dedup.snapshotFiles(spark, s"$path/cellcodes"): _*),
      loadCentroids(spark, path),
      loadBooks(spark, s"$path/books"),
      loadIvfPqResidualFlag(spark, path))

  /** APPEND a batch to a persisted [[IvfPqIndex]]: assign cells under
    * the STORED centroids, encode under the STORED books (both frozen —
    * residual indexes encode the batch's residuals against its assigned
    * cells), append one (id, cell, codes) row per batch vector — cost ∝
    * batch, the corpus rows never read. */
  def appendToIvfPqIndex(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Unit = {
    val cents = loadCentroids(spark, path)
    val books = loadBooks(spark, s"$path/books")
    if (loadIvfPqResidualFlag(spark, path)) {
      val withSv = batch
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
        .withColumn("__cell",
          element_at(nearestCells(col("__cv"), cents, 1), 1))
        .select(col("neighbor_id"), col("__cell"),
          Embeddings.scaledVec(col("__cv")).as("__sv"))
        .localCheckpoint()
      val resid = withSv.select(col("neighbor_id"), col("__cell"),
        residualCarrierCol(cents).as("__rv"))
      Dedup.appendParquet(
        withSv.select("neighbor_id", "__cell")
          .join(pqEncodeWith(resid, "neighbor_id", "__rv", books),
            "neighbor_id"),
        s"$path/cellcodes")
    } else {
      // one pass over the batch source (it may itself be an expensive
      // query): checkpoint (id, cell, vec) once and derive both the cell
      // column and the encode input from it — the residual branch's shape
      val withCell = batch
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
        .withColumn("__cell",
          element_at(nearestCells(col("__cv"), cents, 1), 1))
        .localCheckpoint()
      Dedup.appendParquet(
        withCell.select("neighbor_id", "__cell")
          .join(pqEncodeWith(withCell, "neighbor_id", "__cv", books),
            "neighbor_id"),
        s"$path/cellcodes")
    }
  }

  /** Compact a persisted [[IvfPqIndex]]'s `cellcodes/` table. */
  def compactIvfPqIndex(spark: SparkSession, path: String,
      numFiles: Int = 32): Unit =
    Dedup.compactParquetDir(spark, s"$path/cellcodes", numFiles)

  /** DELETE vectors from a persisted [[IvfIndex]] / [[PqIndex]] /
    * [[IvfPqIndex]] — the retention verb
    * ([[graft.functions.Dedup.deleteFromMinhashIndex]] has the full
    * rationale): one snapshot rewrite of the per-vector table, the
    * delete-id set anti-joined map-side when broadcast-small, after
    * which the table's older versions expire so the deleted vectors are
    * gone from disk. The
    * bounded model tables (centroids, codebooks) are statistical
    * summaries, not member content, and stay frozen — the incremental
    * contract survives deletion.
    *
    * @param ids one-column DataFrame of the vector ids to delete
    */
  def deleteFromIvfIndex(spark: SparkSession, path: String,
      ids: DataFrame, numFiles: Int = 32): Unit =
    deleteVectors(spark, s"$path/cells", ids, numFiles)

  def deleteFromPqIndex(spark: SparkSession, path: String,
      ids: DataFrame, numFiles: Int = 32): Unit =
    deleteVectors(spark, s"$path/codes", ids, numFiles)

  def deleteFromIvfPqIndex(spark: SparkSession, path: String,
      ids: DataFrame, numFiles: Int = 32): Unit =
    deleteVectors(spark, s"$path/cellcodes", ids, numFiles)

  private def deleteVectors(spark: SparkSession, table: String,
      ids: DataFrame, numFiles: Int): Unit = {
    Dedup.rewriteParquetDir(spark, table, numFiles)(
      _.join(ids.toDF("neighbor_id"), Seq("neighbor_id"), "left_anti"))
    SnapshotDir.gc(spark, table, keepVersions = 1)
  }

  /** The per-ingest probe against a prebuilt [[IvfIndex]]. */
  def incrementalSemDedup(
      batch: DataFrame, index: IvfIndex, idCol: String, vecCol: String,
      threshold: Double, nProbe: Int): DataFrame = {
    val b = batch.select(col(idCol).as("__bid"), col(vecCol).as("__bv"))
      .withColumn("__cells",
        nearestCells(col("__bv"), index.centroids, nProbe))
    val c = index.cells.select(
      col("neighbor_id").as("__cid"), col("__cv"), col("__cell"))
    val drops = b
      .join(c, array_contains(col("__cells"), col("__cell")))
      .filter(cosine(col("__bv"), col("__cv")) >= threshold)
      .select(col("__bid")).distinct()
    b.join(drops, Seq("__bid"), "left_anti")
      .select(col("__bid").as(idCol),
        element_at(col("__cells"), 1).as("cell"))
  }

  /** Indices of the `nProbe` nearest centroids (nearest first) for a
    * vector, lowered to the native single-pass codegen'd
    * [[graft.functions.NearestCells]] kernel (centroids ride along as a
    * codegen reference object — k × dim doubles, no per-row literal-array
    * rebuild, no interpreted lambdas).
    */
  def nearestCells(vec: Column, cents: Array[Array[Float]], nProbe: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(NearestCells(expression(vec),
      cents.map(_.map(_.toDouble)), nProbe))
  }

  /** Reference Column-combinator form of [[nearestCells]] — the
    * differential-testing twin for the native kernel (per-row interpreted
    * zip_with + array_sort over the centroid literal).
    */
  def nearestCellsColumnForm(
      vec: Column, cents: Array[Array[Float]], nProbe: Int): Column = {
    val centArr = array(cents.map(ct => array(ct.map(v => lit(v.toDouble)): _*)): _*)
    val scored = zip_with(centArr, sequence(lit(0), lit(cents.length - 1)),
      (ct, i) => struct(cosine(vec.cast("array<double>"), ct).as("s"), i.as("i")))
    transform(
      slice(reverse(array_sort(scored)), 1, nProbe),
      x => x.getField("i"))
  }

  /** Embedding near-duplicate pairs: cosine above threshold, via banded
    * sign-LSH (the [[Dedup.minhashDupPairs]] shape) with exact cosine
    * verification on candidates only. Returns (id_a, id_b, score),
    * id_a < id_b.
    *
    * Banding (OR-construction): `nPlanes` sign bits sliced into
    * `nPlanes/rowsPerBand` bands; a pair is a candidate when all bits agree
    * in at least one band. Per-pair candidate probability is
    * 1-(1-p^r)^b with p = 1-θ/π — recall rises with more/shorter bands,
    * false-candidate volume falls with longer bands (background pairs
    * collide per band at ~2^-r). Only (band, bucket, id) tuples flow
    * through the LSH shuffle and only (id_a, id_b) pairs through the dedup
    * — never the vectors — and the shuffle is keyed on
    * bands × 2^rowsPerBand values instead of one coarse bucket, so no
    * 16-key skew. Verification is the native codegen'd [[CosineSim]].
    *
    * Parameter guidance at 100 TB: for true near-duplicates (threshold
    * ≥ 0.8 — the realistic dedup regime) use rowsPerBand 8-16 so candidate
    * volume stays ~n²·b·2^-r ≪ n²; thresholds down in the background tail
    * of the similarity distribution (e.g. 2-3σ) intrinsically defeat any
    * LSH family — band match probability at the threshold approaches the
    * background rate — so short bands there buy recall at near-quadratic
    * candidate cost. Measured recall on the gate data (threshold 0.35
    * ≈ 2.8σ, 32 planes × 4-row bands): ~0.7 vs the exact pairs, vs 0.14
    * for the old single-16-bucket design.
    */
  def cosineDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    require(nPlanes % rowsPerBand == 0 && nPlanes >= rowsPerBand,
      s"nPlanes=$nPlanes must be a positive multiple of rowsPerBand=$rowsPerBand")
    // localCheckpoint is load-bearing twice over: (1) materialization
    // barrier — without it Catalyst's CollapseProject inlines the full
    // nPlanes-dot-product bit computation into every band slice (an
    // nBands× recompute of the most expensive stage); (2) unlike cache(),
    // checkpoint blocks are released when the RDD is GC'd — this function
    // returns a lazy DataFrame, so there is no safe point to unpersist.
    val withBits = df.select(
        col(idCol).as("id"), col(vecCol).as("v"),
        lshBits(col(vecCol), nPlanes).as("__bits"))
      .localCheckpoint()
    val bands = withBits
      .select(col("id"),
        explode(lshBandKeys(col("__bits"), nPlanes, rowsPerBand)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val candidates = bands.as("a")
      .join(bands.as("b"), Seq("band", "bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    candidates
      .join(withBits.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(withBits.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("score", cosine(col("va"), col("vb")))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }
}
