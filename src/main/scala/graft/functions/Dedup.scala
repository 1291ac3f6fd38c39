package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, all expressed as
  * declarative DataFrame transformations:
  *
  *  - exact: hash + groupBy (one shuffle on the hash — the minimum possible);
  *  - MinHash + LSH: shingle → k-minhash signature → banded bucket join —
  *    signatures are computed map-side with higher-order functions (no UDFs),
  *    and candidate generation shuffles only (band, bucket) pairs, never
  *    full pairwise O(n²);
  *  - SimHash: 64-bit sign-of-weighted-bits fingerprint, Hamming-adjacent
  *    buckets for candidates;
  *  - n-gram Jaccard verification on candidate pairs only.
  *
  * 100 TB notes: every stage is a narrow map except the band-bucket groupBy
  * (shuffle keyed on ~k/r × n rows of small tuples) and the candidate
  * self-join (keyed on bucket — skew-safe because LSH buckets are
  * hash-uniform; AQE handles stragglers).
  */
object Dedup {

  /** Word n-gram shingles from a token array (empty when too few tokens).
    * Kept as the differential-testing twin for the native kernel — the
    * `slice(toks, i, n)` lambda re-evaluates `toks` per shingle position,
    * so this form is O(tokens²) when `toks` is a whole tokenize expression.
    */
  def shinglesColumnForm(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Distinct shingle set (for Jaccard), lowered to the native single-pass
    * [[graft.functions.ShingleSet]] expression.
    */
  def shingleSet(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.ShingleSet(
      expression(TextAnalysis.tokens(text)), n))
  }

  /** k-wide MinHash signature over a shingle array: sig[i] = min over
    * shingles of xxhash64(shingle, seed=i). Lowered to the native
    * single-pass [[graft.functions.MinHashSig]] expression.
    */
  def minhashSignature(shingleCol: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.MinHashSig(expression(shingleCol), k))
  }

  /** LSH band keys: split the k-signature into bands of `rowsPerBand`,
    * hash each band. Returns array<struct<band:int, bucket:bigint>>.
    */
  def lshBands(sig: Column, k: Int, rowsPerBand: Int): Column = {
    val nBands = k / rowsPerBand
    transform(sequence(lit(0), lit(nBands - 1)), b =>
      struct(
        b.cast("int").as("band"),
        xxhash64(concat_ws(",",
          transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast("string")))).as("bucket")))
  }

  /** Candidate near-duplicate pairs via MinHash LSH, verified with exact
    * n-gram Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= threshold.
    */
  def minhashDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    // Shingle sets are computed once and cached for the two verification
    // joins; only small (band, bucket, id) tuples flow through the LSH
    // shuffle and only (id_a, id_b) pairs through the dedup — never the
    // shingle arrays themselves (at 100 TB the arrays dominate row size;
    // keeping them out of the wide joins is the difference between a
    // bounded shuffle and an explosion).
    // The localCheckpoint() below is load-bearing for more than reuse: band
    // hashing slices the signature inside a per-band lambda, and without a
    // materialization barrier Catalyst's CollapseProject would inline the
    // whole 64-hash signature expression into each of the 16 band slices —
    // a 16× recompute of the most expensive stage. Checkpointing
    // (id, sh, sig) makes the bands read a stored column instead, and —
    // unlike cache(), which pins executor storage until an explicit
    // unpersist this lazy-returning function can never safely issue — its
    // blocks are released once the RDD is garbage-collected.
    val withSets = df
      .select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), k))
      .localCheckpoint()
    val buckets = withSets
      .select(col("id"), explode(lshBands(col("sig"), k, rowsPerBand)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val candidates = buckets.as("a")
      .join(buckets.as("b"), Seq("band", "bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    candidates
      .join(withSets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      // |A ∪ B| = |A| + |B| - |A ∩ B| for the distinct shingle sets —
      // one array walk per pair instead of also materializing the union
      .withColumn("__inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("__inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Edit-distance near-dup pairs: MinHash-LSH banded candidates verified
    * with exact Levenshtein ≤ maxDist (the fuzzy analog of
    * [[minhashDupPairs]] for corpora where "near duplicate" means a few
    * character edits — OCR noise, template fills, typo farms). Same
    * bounded-shuffle shape: only (band, bucket, id) tuples enter the LSH
    * shuffle and only candidate (id_a, id_b) pairs reach the O(len²)
    * Levenshtein verify — never all pairs. Returns (id_a, id_b, dist)
    * with id_a < id_b.
    */
  def editDistancePairs(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, n: Int = 3, k: Int = 64,
      rowsPerBand: Int = 4): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    val withSets = base
      .select(col("id"), shingleSet(col("txt"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), k))
      .localCheckpoint()
    val buckets = withSets
      .select(col("id"), explode(lshBands(col("sig"), k, rowsPerBand)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val candidates = buckets.as("a")
      .join(buckets.as("b"), Seq("band", "bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    candidates
      .join(base.select(col("id").as("id_a"), col("txt").as("t_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("txt").as("t_b")), "id_b")
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** 64-bit SimHash over tokens: bit i is the sign of Σ_tokens
    * (±1 depending on bit i of xxhash64(token)). Lowered to the native
    * single-pass [[graft.functions.SimHash64]] expression — map-side only,
    * stays in whole-stage codegen, one hash per token.
    */
  def simhash(toks: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.SimHash64(expression(toks)))
  }

  /** Near-duplicate pairs over ANY 64-bit perceptual/similarity hash
    * (SimHash text fingerprints, dHash image fingerprints) by banded
    * Hamming LSH: split the 64 bits into `nBands` equal bands, bucket-join
    * on (band, band-bits), and verify candidates with the exact popcount
    * of the XOR. Returns (id_a, id_b, hamming) with id_a < id_b.
    *
    * EXACT, not approximate, when `maxDist < nBands`: a pair within
    * Hamming distance d < nBands leaves at least one band untouched
    * (pigeonhole), so banding recalls every true pair and the verify
    * filter makes the output identical to the all-pairs answer — which is
    * what lets a SQL oracle check this operator bit-for-bit.
    *
    * 100 TB shape: only (band, bucket, id, hash) tuples — ≤ 32 bytes ×
    * nBands per item — enter the LSH shuffle; the XOR verify runs on
    * candidates only, never all pairs. Popular buckets (near-identical
    * crops of a viral image) are an equi-join AQE can skew-split.
    */
  /** The 64-bit Hamming band-key array shared by [[hammingDupPairs]] and
    * [[incrementalHammingDedup]]: band b's bucket = bits
    * [b·bandBits, (b+1)·bandBits). The pigeonhole-exactness guarantee of
    * BOTH operators depends on the layout staying bit-identical — one
    * definition, two call sites. */
  private def hammingBandKeys(h: Column, nBands: Int): Column = {
    require(64 % nBands == 0, s"nBands must divide 64: $nBands")
    val bandBits = 64 / nBands
    val mask = (1L << bandBits) - 1
    array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(h, b * bandBits)
          .bitwiseAND(lit(mask)).as("bucket"))
    }: _*)
  }

  def hammingDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, nBands: Int = 8): DataFrame = {
    require(maxDist < nBands,
      s"recall guarantee needs maxDist < nBands: $maxDist >= $nBands")
    val buckets = hashes
      .select(col(idCol).as("id"), col(hashCol).as("__h"))
      .select(col("id"), col("__h"),
        explode(hammingBandKeys(col("__h"), nBands)).as("bb"))
      .select(col("id"), col("__h"), col("bb.band"), col("bb.bucket"))
    buckets.as("a").join(buckets.as("b"), Seq("band", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.__h").as("__ha"),
        col("b.id").as("id_b"), col("b.__h").as("__hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Incremental (cross-snapshot) HAMMING near-dup dedup — the
    * perceptual-hash analog of [[incrementalMinhashDedup]], completing
    * the incremental matrix for every modality the Hamming family covers
    * (image dHash, audio energy profiles, video clip fingerprints, text
    * simhash): drop BATCH items whose 64-bit hash is within `maxDist` of
    * ANY corpus hash, probing the corpus's banded index.
    *
    * Shape: the corpus's (band, bucket, id, hash) tuples are the stored
    * index; the batch bands its own hashes map-side, probes with ONE
    * (band, bucket) equi-join, popcount-verifies candidates only, and
    * anti-joins the drops — probe cost ∝ batch, never corpus. Same
    * pigeonhole argument as [[hammingDupPairs]]: maxDist < nBands makes
    * the banding EXACT, so a SQL oracle replaying all cross pairs checks
    * this bit-for-bit.
    *
    * @return surviving batch rows: (id, hash)
    */
  def incrementalHammingDedup(batch: DataFrame, corpus: DataFrame,
      idCol: String, hashCol: String,
      maxDist: Int, nBands: Int = 8): DataFrame =
    incrementalHammingDedup(batch,
      hammingIndex(corpus, idCol, hashCol, nBands), idCol, hashCol, maxDist)

  /** A built banded-Hamming corpus index: the (hash, band, bucket) probe
    * tuples plus the nBands they were banded under (a probe under a
    * different banding would look in the wrong buckets, so the probe
    * requires the stored value). Same lifecycle as [[MinhashIndex]]:
    * build once ([[hammingIndex]]), persist ([[saveHammingIndex]]),
    * probe per ingest ([[loadHammingIndex]] +
    * [[incrementalHammingDedup]]), append the ingest's survivors
    * ([[appendToHammingIndex]]). */
  final case class HammingIndex(buckets: DataFrame, nBands: Int)

  /** The band-tuple derivation shared by build and append — cost ∝ the
    * rows passed in (one map-side explode, no shuffle). */
  private def hammingIndexRows(rows: DataFrame, idCol: String,
      hashCol: String, nBands: Int): DataFrame =
    rows
      .select(col(idCol).as("__cid"), col(hashCol).as("__ch"))
      .select(col("__ch"),
        explode(hammingBandKeys(col("__ch"), nBands)).as("bb"))
      .select(col("__ch"), col("bb.band"), col("bb.bucket"))

  def hammingIndex(corpus: DataFrame, idCol: String, hashCol: String,
      nBands: Int = 8): HammingIndex =
    HammingIndex(hammingIndexRows(corpus, idCol, hashCol, nBands), nBands)

  /** Persist a [[HammingIndex]] as parquet under `path` (`buckets/`,
    * committed as snapshot v1, + one-row write-once `meta/` with the
    * banding). Overwrites. */
  def saveHammingIndex(index: HammingIndex, path: String): Unit = {
    saveParquet(index.buckets, s"$path/buckets")
    val spark = index.buckets.sparkSession
    import spark.implicits._
    Seq(index.nBands).toDF("n_bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a persisted [[HammingIndex]] — a pinned file-set snapshot, the
    * same rootPaths-equality trap as [[loadMinhashIndex]]. */
  def loadHammingIndex(spark: SparkSession, path: String): HammingIndex =
    HammingIndex(
      spark.read.parquet(snapshotFiles(spark, s"$path/buckets"): _*),
      spark.read.parquet(s"$path/meta").collect().head.getAs[Int]("n_bands"))

  /** APPEND an ingest's surviving (id, hash) rows to a persisted index
    * under its stored banding — appends only the batch's band tuples,
    * never reads or rewrites the corpus rows. */
  def appendToHammingIndex(spark: SparkSession, path: String,
      survivors: DataFrame, idCol: String, hashCol: String): Unit = {
    val nBands =
      spark.read.parquet(s"$path/meta").collect().head.getAs[Int]("n_bands")
    appendParquet(
      hammingIndexRows(survivors, idCol, hashCol, nBands),
      s"$path/buckets")
  }

  /** The per-ingest probe against a prebuilt [[HammingIndex]]. */
  def incrementalHammingDedup(batch: DataFrame, index: HammingIndex,
      idCol: String, hashCol: String, maxDist: Int): DataFrame = {
    val nBands = index.nBands
    require(maxDist < nBands,
      s"recall guarantee needs maxDist < nBands: $maxDist >= $nBands")
    val corpusBuckets = index.buckets
    val b = batch.select(col(idCol).as("__bid"), col(hashCol).as("__bh"))
    val batchBuckets = b
      .select(col("__bid"), col("__bh"),
        explode(hammingBandKeys(col("__bh"), nBands)).as("bb"))
      .select(col("__bid"), col("__bh"), col("bb.band"), col("bb.bucket"))
    val drops = batchBuckets
      .join(corpusBuckets, Seq("band", "bucket"))
      .filter(bit_count(col("__bh").bitwiseXOR(col("__ch"))) <= maxDist)
      .select("__bid").distinct()
    b.join(drops, Seq("__bid"), "left_anti")
      .select(col("__bid").as(idCol), col("__bh").as(hashCol))
  }

  /** Benchmark-contamination score: for every corpus document, the
    * fraction of its distinct word n-gram shingles that also appear
    * anywhere in a benchmark corpus — the standard decontamination check
    * run before training (drop or flag documents overlapping eval sets).
    *
    * Shape at scale: the benchmark side collapses to its distinct shingle
    * set — eval suites are tiny next to a 100 TB corpus — and is
    * explicitly broadcast, so the overlap test is a map-side hash probe;
    * the only shuffle is the per-document count aggregation (partial
    * map-side combine, doc-keyed, no hot keys). Documents with fewer than
    * `n` tokens have no shingles and drop out, in both this and the
    * oracle.
    */
  def contaminationScore(
      corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3): DataFrame = {
    val docSh = corpus.select(col(idCol), explode(shingleSet(col(textCol), n)).as("s"))
    val benchSh = benchmark
      .select(explode(shingleSet(col(benchTextCol), n)).as("s"))
      .distinct()
      .withColumn("__hit", lit(1))
    docSh.join(broadcast(benchSh), Seq("s"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).as("n_overlap"))
      .withColumn("contamination",
        col("n_overlap").cast("double") / col("n_shingles"))
  }

  /** NEAR-DUP contamination (round 13) — the fuzzy complement of
    * [[contaminationScore]]'s shingle-overlap fraction and
    * [[decontaminateSpans]]' verbatim-run removal: flag every corpus
    * document whose MinHash-Jaccard similarity to ANY benchmark document
    * clears `threshold`. Verbatim checks miss light paraphrase /
    * whitespace-mangled eval leakage; whole-doc near-dup against the
    * eval suite is the decontamination pass production corpora run
    * alongside the exact ones (the LLaMA / Dolma practice).
    *
    * Shape at scale — ONE corpus pass, ZERO corpus-side exchange before
    * the hit rows: the benchmark side (eval suites are tiny next to the
    * corpus) builds its shingle sets and band tuples once and both
    * BROADCAST; each corpus document computes shingles → signature →
    * band tuples map-side and probes the broadcast bucket table, and —
    * because the join is broadcast — the document's own shingle set
    * rides THROUGH the band explode (k/rowsPerBand in-memory copies of
    * one array inside the map stage, never shuffled), so the exact
    * Jaccard verify against the broadcast benchmark sets also runs
    * map-side. Only VERIFIED hits (contaminated docs — rare by
    * construction) reach the two small aggregations that dedup
    * multi-band matches and count per-document hits.
    *
    * @return (idCol, n_bench_hits, first_bench_id) — flagged corpus
    *         docs only; n_bench_hits counts distinct benchmark partners
    *         at ≥ threshold, first_bench_id is the smallest (the
    *         deterministic audit sample)
    */
  def contaminationNearDup(corpus: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String, n: Int = 3, k: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val bidx = minhashIndex(bench, benchIdCol, benchTextCol,
      n, k, rowsPerBand)
    val bBuckets = broadcast(bidx.buckets)
    val bSets = broadcast(bidx.sets.select(col("__cid"), col("__csh")))
    val corpusBands = corpus
      .select(col(idCol).as("__did"), shingleSet(col(textCol), n).as("__dsh"))
      .filter(size(col("__dsh")) > 0)
      .withColumn("__dsig", minhashSignature(col("__dsh"), k))
      .select(col("__did"), col("__dsh"),
        explode(lshBands(col("__dsig"), k, rowsPerBand)).as("bb"))
      .select(col("__did"), col("__dsh"), col("bb.band"), col("bb.bucket"))
    val hits = corpusBands
      .join(bBuckets, Seq("band", "bucket"))
      .join(bSets, "__cid")
      .withColumn("__inter",
        size(array_intersect(col("__dsh"), col("__csh"))).cast("double"))
      .filter(col("__inter") /
        (size(col("__dsh")) + size(col("__csh")) - col("__inter"))
        >= threshold)
      .select(col("__did"), col("__cid"))
      .distinct() // multi-band matches of the same (doc, bench) pair
    hits.groupBy(col("__did"))
      .agg(count(lit(1)).as("n_bench_hits"),
        min(col("__cid")).as("first_bench_id"))
      .select(col("__did").as(idCol), col("n_bench_hits"),
        col("first_bench_id"))
  }

  /** Pairwise shingle-overlap matrix between corpus slices (sources,
    * snapshots, domains): for every pair of groups, the Jaccard similarity
    * of their distinct n-gram sets — the dataset-mixing diagnostic that
    * tells you which sources are near-copies of each other before you
    * assign mixture weights.
    *
    * Shape at scale: one distinct over (group, shingle) — the vocabulary
    * per source, far smaller than the corpus — then a self-join keyed on
    * the shingle. Output is |groups|² rows, tiny.
    *
    * Stop-shingle prune (on by default): a shingle present in ALL groups
    * adds exactly +1 to every pairwise intersection and +1 to every set
    * size, so such shingles — the hottest join keys, each fanning out
    * |groups|² rows — are dropped before the self-join and their count U
    * added back to every pair's `n_common` afterwards (sizes stay computed
    * on the full sets). Output is provably identical (PipelineSpec runs
    * both forms); what changes is the join's key-multiplicity ceiling.
    */
  def groupOverlap(
      df: DataFrame, groupCol: String, textCol: String, n: Int = 3,
      pruneUniversal: Boolean = true): DataFrame = {
    // the vocabulary is consumed by five downstream plans (sizes, the
    // universal-shingle frequency pass, both sides of the self-join, the
    // prune's anti-join) — checkpoint so the shingle explode + distinct
    // runs once, not five times (same rationale as minhashDupPairs: a
    // lazy-returning function can never safely cache/unpersist, while
    // checkpoint blocks release with the RDD)
    val sh = df
      .select(col(groupCol), explode(shingleSet(col(textCol), n)).as("s"))
      .distinct()
      .localCheckpoint()
    val sizes = sh.groupBy(col(groupCol)).agg(count(lit(1)).as("sz"))
    // all candidate pairs (|groups|² rows, tiny) — needed because a pair
    // whose overlap is entirely universal shingles has no post-prune join
    // row yet must still report n_common = U
    val pairs = sizes.select(col(groupCol).as("grp_a"), col("sz").as("sz_a"))
      .crossJoin(sizes.select(col(groupCol).as("grp_b"), col("sz").as("sz_b")))
      .filter(col("grp_a") < col("grp_b"))
    // ONE shuffle on the shingle key: fold each shingle's groups into a
    // sorted list, then expand intersection pairs MAP-SIDE from the list
    // (fan-out per shingle bounded by |groups|², same bound the old
    // self-join had per key — but without shuffling the vocabulary a
    // second time for the b-side, and the universal-shingle prune becomes
    // a size(gs) = ng filter on the grouped rows instead of an anti-join).
    // Both consumers below share the identical groupBy subtree, so
    // Catalyst's ReuseExchange runs the wide shuffle once.
    val ng = sizes.agg(count(lit(1)).as("ng"))
    val byShingle = sh.groupBy(col("s"))
      .agg(sort_array(collect_list(col(groupCol))).as("gs"))
      .crossJoin(broadcast(ng))
    val (expandSide, uCount) =
      if (pruneUniversal)
        (byShingle.filter(size(col("gs")) < col("ng")),
          byShingle.filter(size(col("gs")) === col("ng"))
            .agg(count(lit(1)).as("u")))
      else (byShingle, byShingle.limit(0).agg(count(lit(1)).as("u")))
    // pairs (x, y) with x < y from the sorted list: for element i, pair it
    // with every later element — all inside whole-stage codegen
    val pairExpr = flatten(transform(col("gs"), (x, i) =>
      transform(slice(col("gs"), i + lit(2), size(col("gs"))), y =>
        struct(x.as("grp_a"), y.as("grp_b")))))
    val common = expandSide
      .select(explode(pairExpr).as("p"))
      .groupBy(col("p.grp_a").as("grp_a"), col("p.grp_b").as("grp_b"))
      .agg(count(lit(1)).as("n_common0"))
    pairs
      .join(common, Seq("grp_a", "grp_b"), "left_outer")
      .crossJoin(broadcast(uCount))
      .withColumn("n_common", coalesce(col("n_common0"), lit(0L)) + col("u"))
      .filter(col("n_common") > 0)
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")))
      .select("grp_a", "grp_b", "n_common", "jaccard")
  }

  /** Boilerplate n-gram detection: shingles recurring across many
    * DIFFERENT documents of the same group (source/domain) — headers,
    * footers, navigation chrome, license blurbs. Flagging them (and
    * stripping matching spans) is a standard web-corpus cleanup pass that
    * per-document repetition signals cannot catch.
    *
    * Returns (group, shingle, n_docs, doc_frac) for shingles present in at
    * least `minDocs` distinct documents of the group. Shape at scale: the
    * per-doc distinct shingle explode feeds a (group, shingle)-keyed count
    * — map-side partial agg, uniform keys — and the per-group doc totals
    * join back from a |groups|-row broadcast.
    */
  def boilerplateShingles(
      df: DataFrame, groupCol: String, idCol: String, textCol: String,
      n: Int = 3, minDocs: Int = 3): DataFrame = {
    val sh = df.select(
      col(groupCol), col(idCol),
      explode(shingleSet(col(textCol), n)).as("shingle"))
    val totals = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs_total"))
    sh.groupBy(col(groupCol), col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .join(broadcast(totals), groupCol)
      .withColumn("doc_frac",
        col("n_docs").cast("double") / col("n_docs_total"))
      .select(groupCol, "shingle", "n_docs", "doc_frac")
  }

  /** Exact-duplicate groups: hash text, keep the smallest id as canonical.
    * Returns (text_hash, n_copies, keeper_id).
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** QUALITY-AWARE dedup keeper (round 16): of each duplicate cluster,
    * keep the BEST-scoring member (ties to the smaller id) — the
    * FineWeb / Dolma curation rule, where the min-id keeper of
    * [[exactDupGroups]] is arbitrary about WHICH copy survives. Takes
    * any (id, cluster, integer score) frame — compose with near-dup
    * clusters ([[graft.functions.Graph.connectedComponents]] over
    * verified pairs) or exact-dup hashes, and any deterministic score
    * (token count, [[graft.functions.TextAnalysis.lmQuality]] nanos, a
    * classifier margin). ONE partial-combine min-struct aggregate
    * keyed by the cluster — never a window (a window would co-locate
    * every copy of a boilerplate cluster in one partition), no
    * all-pairs; the argmax is exact via min(struct(−score, id))
    * (score must exceed Long.MinValue — any *_nano or count does).
    *
    * @return (clusterCol, keeper id as `keeper_id`, its score as
    *         `keeper_score`, `n_members`) — one row per cluster */
  def keepBestPerCluster(scored: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String): DataFrame =
    scored
      .groupBy(col(clusterCol))
      .agg(
        min(struct((-col(scoreCol).cast("long")).as("ns"),
          col(idCol).as("i"))).as("__w"),
        count(lit(1)).as("n_members"))
      .select(col(clusterCol), col("__w")("i").as("keeper_id"),
        (-col("__w")("ns")).as("keeper_score"), col("n_members"))

  /** Incremental (cross-snapshot) exact dedup: drop batch documents whose
    * text already exists in the prior corpus INDEX (its text hashes — at
    * 100 TB the index is hashes only, orders of magnitude smaller than
    * the corpus), and dedup within the batch itself (first id wins). The
    * within-batch winner is a hash-keyed partial/final min AGGREGATE
    * joined back (map-side combine + AQE skew-split on the join; a
    * window would co-locate every copy of a boilerplate hash in one
    * partition with neither), plus one anti-join keyed on the hash; the
    * index side broadcasts when small, AQE decides.
    *
    * @param corpusHashes one column `text_hash` (md5 hex of text)
    */
  def incrementalDedup(batch: DataFrame, corpusHashes: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val hashed = batch.withColumn("__h", md5(col(textCol).cast("binary")))
    val winners = hashed.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__win"))
    hashed.join(winners, Seq("__h"))
      .filter(col("__win") === col(idCol))
      .join(corpusHashes.select(col("text_hash").as("__h")).distinct(),
        Seq("__h"), "left_anti")
      .drop("__h", "__win")
  }

  /** Bloom-prefiltered incremental dedup — OUTPUT-IDENTICAL to
    * [[incrementalDedup]], with the 100 TB shuffle profile: the corpus
    * index aggregates into ONE Bloom filter row (`bloom_filter_agg`,
    * Spark's runtime-filter machinery), every batch row probes it
    * map-side (`might_contain` over a broadcast), and only the
    * maybe-duplicate fraction enters the exact anti-join. Bloom filters
    * have no false negatives, so the might-not-contain branch is
    * definitely new and skips the join entirely; false positives are
    * re-checked exactly — correctness never depends on the filter.
    *
    * @param expectedItems sizing for the filter (items in the index)
    */
  def incrementalDedupBloom(batch: DataFrame, corpusHashes: DataFrame,
      idCol: String, textCol: String,
      expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val index = corpusHashes.select(col("text_hash").as("__h")).distinct()
    // BloomFilterAggregate/BloomFilterMightContain are Spark's
    // runtime-filter expressions (not in the SQL registry) — built
    // directly, exactly how InjectRuntimeFilter uses them
    val bloom = index.agg(column(
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(expression(xxhash64(col("__h"))),
          Literal(expectedItems), Literal(expectedItems * 8))
        .toAggregateExpression()).as("__bf"))
    // might_contain requires a CONSTANT filter — materialize the one-row
    // aggregate eagerly (a documented bounded collect, the toscalar
    // precedent: one binary value sized to the index, the same artifact
    // Spark's InjectRuntimeFilter ships via scalar subquery)
    val bfBytes = bloom.collect()(0).getAs[Array[Byte]](0)
    val hashed = batch.withColumn("__h", md5(col(textCol).cast("binary")))
    val winners = hashed.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__win"))
    val deduped = hashed.join(winners, Seq("__h"))
      .filter(col("__win") === col(idCol))
    // BloomFilterAggregate over ZERO rows evaluates to NULL (an empty
    // index on the bootstrap first run); NULL would make might_contain
    // NULL and both branches below drop every row. An empty index means
    // every in-batch winner is definitely new — return them directly.
    if (bfBytes == null) return deduped.drop("__h", "__win")
    val inBatch = deduped
      .withColumn("__maybe", column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          Literal(bfBytes,
            org.apache.spark.sql.types.BinaryType),
          expression(xxhash64(col("__h"))))))
    val definitelyNew = inBatch.filter(!col("__maybe"))
    val verified = inBatch.filter(col("__maybe"))
      .join(index, Seq("__h"), "left_anti")
    definitelyNew.unionByName(verified)
      .drop("__h", "__win", "__maybe")
  }

  /** Incremental (cross-snapshot) NEAR-dup dedup — the missing cell of
    * the incremental matrix next to [[incrementalDedup]] (exact hash) and
    * [[Similarity.incrementalSemDedup]] (embedding): drop BATCH documents
    * whose n-gram Jaccard against ANY corpus document reaches `threshold`,
    * discovered through the corpus's MinHash-LSH band index — the nightly
    * "new crawl vs 100 TB corpus" pass.
    *
    * Shape: the corpus's (band, bucket, id) tuples ARE the index (in
    * production precomputed and stored — signatures never recompute per
    * ingest); the batch computes its own signatures map-side, probes the
    * index with one (band, bucket) equi-join, and Jaccard-verifies the
    * candidates only. Probe cost ∝ batch size × collision rate, never
    * corpus size; only id/bucket tuples and candidate pairs shuffle,
    * never shingle arrays (the [[minhashDupPairs]] discipline). Batch
    * docs too short to shingle (< n tokens) cannot near-dup anything and
    * survive.
    *
    * Same banding trade as [[minhashDupPairs]]: candidate recall is the
    * LSH 1-(1-j^r)^b curve, so a sub-threshold-similarity pair missed by
    * every band stays — the documented approximation of every production
    * MinHash dedup (GPT-3/The Pile/RefinedWeb).
    *
    * @return surviving batch rows: (id)
    */
  /** A built MinHash-LSH corpus index: the checkpointed (id, shingle set)
    * rows plus the derived (id, band, bucket) probe tuples, together with
    * the (n, k, rowsPerBand) parameters they were built under — a probe
    * with mismatched parameters would silently generate wrong buckets and
    * miss near-dups, so [[incrementalMinhashDedup]] requires equality.
    * The full production lifecycle is build-once ([[minhashIndex]]) /
    * persist ([[saveMinhashIndex]]) / probe-per-ingest
    * ([[loadMinhashIndex]] + [[incrementalMinhashDedup]]) / append the
    * ingest's survivors ([[appendToMinhashIndex]]) — tomorrow's batch
    * then near-dups against today's survivors without a corpus rebuild.
    */
  final case class MinhashIndex(sets: DataFrame, buckets: DataFrame,
      n: Int, k: Int, rowsPerBand: Int)

  /** The shared (sets, buckets) derivation of the build and append steps:
    * shingle → signature (checkpointed once, the CollapseProject barrier
    * of [[minhashDupPairs]]) → band tuples. Cost ∝ the rows passed in. */
  private def minhashIndexRows(rows: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame) = {
    val sets = rows
      .select(col(idCol).as("__cid"), shingleSet(col(textCol), n).as("__csh"))
      .filter(size(col("__csh")) > 0)
      .withColumn("__csig", minhashSignature(col("__csh"), k))
      .localCheckpoint()
    val buckets = sets
      .select(col("__cid"),
        explode(lshBands(col("__csig"), k, rowsPerBand)).as("bb"))
      .select(col("__cid"), col("bb.band"), col("bb.bucket"))
    (sets, buckets)
  }

  def minhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, rowsPerBand: Int = 4): MinhashIndex = {
    val (corpusSets, corpusBuckets) =
      minhashIndexRows(corpus, idCol, textCol, n, k, rowsPerBand)
    MinhashIndex(corpusSets, corpusBuckets, n, k, rowsPerBand)
  }

  /** Persist a [[MinhashIndex]] as parquet tables under `path`
    * (`sets/`, `buckets/` — each committed as snapshot v1 — plus a
    * one-row write-once `meta/` carrying the build parameters so a later
    * load/append/probe cannot run under different ones). Overwrites any
    * index already at `path`, history included. */
  def saveMinhashIndex(index: MinhashIndex, path: String): Unit = {
    saveParquet(index.sets, s"$path/sets")
    saveParquet(index.buckets, s"$path/buckets")
    val spark = index.sets.sparkSession
    import spark.implicits._
    Seq((index.n, index.k, index.rowsPerBand))
      .toDF("n", "k", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The data files of a table's newest committed snapshot
    * ([[SnapshotDir]]) — each load pins the file SET it saw, making the
    * loaded index a stable snapshot. This is load-bearing for
    * correctness, not just hygiene: Spark's `InMemoryFileIndex`
    * equality compares only rootPaths, so two directory-scans of the
    * same path taken before and after an APPEND canonicalize as the same
    * plan, and exchange/AQE-stage reuse then silently serves the
    * PRE-append stage to the post-append probe when one query tree
    * contains both (exactly the build→probe→append→probe gate shape).
    * Distinct file lists give distinct rootPaths, so reuse only unifies
    * scans that really read the same data. */
  private[graft] def snapshotFiles(
      spark: SparkSession, dir: String): Seq[String] = {
    val latest = SnapshotDir.latest(spark, dir)
    require(latest.isDefined,
      s"no snapshot manifest under $dir — the path is wrong, or the " +
        "table was written by a plain parquet write; " +
        "SnapshotDir.enable upgrades such a table in place")
    val (v, files) = latest.get
    // an empty committed snapshot is a legal WRITE state (an append
    // bootstrapped onto an absent dir, before its first commit lands)
    // but has no parquet schema source to read — name the state instead
    // of the opaque zero-path schema-inference error it would become
    require(files.nonEmpty,
      s"versioned table at $dir: snapshot v$v is empty — append " +
        "before the first load/compact (versioned-from-birth dirs " +
        "are append-first)")
    files.sorted
  }

  /** SAVE chokepoint: write `df` over `dir` (any previous table and its
    * history are replaced) and commit the written files as snapshot v1.
    * Every index data table that is later appended to or rewritten is
    * saved through here. */
  private[graft] def saveParquet(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(dir)
    SnapshotDir.enable(df.sparkSession, dir)
  }

  /** APPEND chokepoint: `df` lands as a manifest-committed segment
    * (invisible until the commit, preserving `df`'s partitioning). An
    * absent dir is first versioned as an empty v1 — the bootstrap a
    * first append onto a fresh dir (a streaming BM25 index) needs. */
  private[graft] def appendParquet(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    if (!SnapshotDir.isVersioned(spark, dir)) SnapshotDir.enable(spark, dir)
    SnapshotDir.commitAppend(spark, dir, df)
  }

  /** OVERWRITE chokepoint — every full-replacement save (model publish,
    * small lookup table) routes through here, with model-registry
    * semantics: the first save of a dir commits v1, and every retrain
    * commits v+1 as `numFiles` coalesced files — pinned consumers keep
    * scoring with the model they loaded, and [[SnapshotDir.filesAt]]
    * rolls back to any retained version. */
  private[graft] def overwriteParquet(df: DataFrame, dir: String,
      numFiles: Int): Unit = {
    val spark = df.sparkSession
    if (SnapshotDir.isVersioned(spark, dir))
      SnapshotDir.commitRewrite(spark, dir, df.coalesce(numFiles))
    else saveParquet(df.coalesce(numFiles), dir)
  }

  /** Load a persisted [[MinhashIndex]]. The DataFrames are parquet
    * scans over the newest committed snapshot's files (a pinned
    * snapshot — see [[snapshotFiles]]); nothing is materialized until a
    * probe runs, so loading is metadata-only even for a 100 TB index. */
  def loadMinhashIndex(spark: SparkSession, path: String): MinhashIndex = {
    val meta = spark.read.parquet(s"$path/meta").collect().head
    MinhashIndex(
      spark.read.parquet(snapshotFiles(spark, s"$path/sets"): _*),
      spark.read.parquet(snapshotFiles(spark, s"$path/buckets"): _*),
      meta.getAs[Int]("n"), meta.getAs[Int]("k"),
      meta.getAs[Int]("rows_per_band"))
  }

  /** TIME TRAVEL ([[SnapshotDir.filesAt]]): load a persisted index AS
    * OF a specific committed snapshot version — re-running
    * yesterday's probe against yesterday's index state is how a pipeline
    * reproduces a dedup decision after the index has moved on (appends,
    * deletes, compactions — none of them touch an old version's files
    * within [[SnapshotDir.gc]] retention, which a delete shrinks to the
    * newest version). `version` addresses `sets/`
    * and `buckets/` in lockstep: every public maintenance verb commits
    * both tables once per call, so their histories advance together;
    * write-once `meta/` (the n/k/rowsPerBand parameters) is version-free
    * by construction. Fails loudly on an unknown or gc-expired version. */
  def loadMinhashIndexAt(spark: SparkSession, path: String,
      version: Long): MinhashIndex = {
    val meta = spark.read.parquet(s"$path/meta").collect().head
    MinhashIndex(
      spark.read.parquet(
        SnapshotDir.filesAt(spark, s"$path/sets", version): _*),
      spark.read.parquet(
        SnapshotDir.filesAt(spark, s"$path/buckets", version): _*),
      meta.getAs[Int]("n"), meta.getAs[Int]("k"),
      meta.getAs[Int]("rows_per_band"))
  }

  /** APPEND an ingest's surviving rows to a persisted index: computes the
    * survivors' shingle sets / signatures / band tuples under the INDEX's
    * own stored parameters and appends just those parquet rows — cost ∝
    * the batch, the existing corpus rows are never read or rewritten.
    * This is the nightly step closing the incremental loop: after
    * build → probe → append, the next day's probe near-dups against
    * yesterday's survivors too.
    *
    * @param survivors the surviving batch rows WITH their text column
    *                  (join the probe's surviving ids back to the batch)
    */
  def appendToMinhashIndex(spark: SparkSession, path: String,
      survivors: DataFrame, idCol: String, textCol: String): Unit = {
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val (sets, buckets) = minhashIndexRows(survivors, idCol, textCol,
      meta.getAs[Int]("n"), meta.getAs[Int]("k"),
      meta.getAs[Int]("rows_per_band"))
    appendParquet(sets, s"$path/sets")
    appendParquet(buckets, s"$path/buckets")
  }

  /** SNAPSHOT DIFF (round 11) — the what-changed audit between two
    * corpus snapshots every nightly pipeline runs before deciding what
    * to reprocess: classify every id as added (new only), removed (old
    * only), changed (both, content differs) or unchanged.
    *
    * 100 TB shape: both sides project to (id, content hash) BEFORE the
    * join, so the one full-outer shuffle carries 16 bytes per row, never
    * document text; equality of xxhash64 on the same column is content
    * equality up to 64-bit collision (the standard snapshot-diff trade —
    * at 2^32 docs the collision expectation is ~0.5 FALSE-unchanged
    * rows). `strict = true` (round 12) makes the documented mitigation
    * one flag: a SECOND independent 128-bit md5 rides the same shuffle
    * (32 bytes/row instead of 16) and "unchanged" requires BOTH hashes
    * equal — a false-unchanged now needs a simultaneous xxhash64 AND md5
    * collision on the same text, off the table for any realistic corpus.
    * The join shape, row classification, and default output are
    * unchanged (the `pl_snapshot_diff` oracle covers the default).
    *
    * @return (idCol, status ∈ added|removed|changed|unchanged)
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String, strict: Boolean = false): DataFrame = {
    val o =
      if (strict) oldDf.select(col(idCol).as("__id"),
        xxhash64(col(textCol)).as("__ho"),
        md5(col(textCol).cast("binary")).as("__mo"))
      else oldDf.select(col(idCol).as("__id"),
        xxhash64(col(textCol)).as("__ho"))
    val n =
      if (strict) newDf.select(col(idCol).as("__id"),
        xxhash64(col(textCol)).as("__hn"),
        md5(col(textCol).cast("binary")).as("__mn"))
      else newDf.select(col(idCol).as("__id"),
        xxhash64(col(textCol)).as("__hn"))
    // md5(NULL) is null (unlike xxhash64, which null-skips to the seed
    // hash), so the second-hash comparison must be null-SAFE — otherwise
    // strict mode would reclassify a (null, null) content pair from
    // "unchanged" to "changed", diverging from the default
    val same =
      if (strict) col("__ho") === col("__hn") && (col("__mo") <=> col("__mn"))
      else col("__ho") === col("__hn")
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(same, lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Rewrite one persisted parquet table into `numFiles` consolidated
    * files: nightly appends leave a few small files per batch, and after
    * months of ingests the probe pays file-listing and footer-open cost
    * per tiny file — the classic small-files problem. The rewrite
    * commits a new snapshot version and deletes nothing: a reader pinned
    * to an older version keeps materializing after it (SnapshotDirSpec
    * pins it), and [[SnapshotDir.gc]] reclaims the superseded files. */
  private[functions] def compactParquetDir(
      spark: SparkSession, dir: String, numFiles: Int): Unit =
    rewriteParquetDir(spark, dir, numFiles)(identity)

  /** The rewrite primitive under [[compactParquetDir]] (identity
    * transform) and the DELETE verbs (anti-join transform): read the
    * current snapshot, apply `f`, and commit the result as `numFiles`
    * files in a new version — a new segment plus ONE manifest rename, so
    * a crash at any point leaves only uncommitted files for gc. */
  private[functions] def rewriteParquetDir(
      spark: SparkSession, dir: String, numFiles: Int)(
      f: DataFrame => DataFrame): Unit = {
    require(numFiles >= 1)
    SnapshotDir.commitRewrite(spark, dir,
      f(spark.read.parquet(snapshotFiles(spark, dir): _*))
        .repartition(numFiles))
  }

  /** Compact a persisted [[MinhashIndex]]'s `sets/` and `buckets/`
    * tables into `numFiles` files each (run periodically between
    * appends; probe results are unchanged — PipelineSpec proves it). */
  def compactMinhashIndex(spark: SparkSession, path: String,
      numFiles: Int = 32): Unit = {
    compactParquetDir(spark, s"$path/sets", numFiles)
    compactParquetDir(spark, s"$path/buckets", numFiles)
  }

  /** Compact a persisted `HammingIndex`'s `buckets/` table. */
  def compactHammingIndex(spark: SparkSession, path: String,
      numFiles: Int = 32): Unit =
    compactParquetDir(spark, s"$path/buckets", numFiles)

  /** DELETE documents from a persisted [[MinhashIndex]] (round 12 — the
    * retention / right-to-be-forgotten verb completing the lifecycle:
    * build / persist / probe / append / compact / DELETE). Takedowns,
    * opt-outs, and license-expiry passes must propagate into the dedup
    * index, or the pipeline keeps suppressing fresh documents as "near
    * dups of" content that no longer exists — and keeps the deleted
    * documents' shingle sets on disk.
    *
    * Both tables rewrite as new snapshot versions
    * ([[rewriteParquetDir]] — one snapshot scan each, the delete set
    * anti-joined map-side when broadcast-small): `sets/` FIRST, because
    * it is both the content (the shingle sets a deletion obligation is
    * about) and the probe's semantic source of truth — a candidate from
    * a stale `buckets/` tuple inner-joins `sets/` for the Jaccard
    * verify, so once the sets row is gone the probe can never drop a
    * batch doc on account of a deleted partner; the `buckets/` rewrite
    * is then space reclamation. A crash between the two rewrites
    * therefore leaves a CORRECT (if unvacuumed) index — re-run the
    * delete to finish. Once both rewrites have committed, every older
    * version of both tables expires ([[SnapshotDir.gc]]), so the deleted
    * documents' rows are gone from disk — a pinned older version would
    * otherwise keep them.
    *
    * @param ids one-column DataFrame of the document ids to delete
    */
  def deleteFromMinhashIndex(spark: SparkSession, path: String,
      ids: DataFrame, numFiles: Int = 32): Unit = {
    val del = ids.toDF("__cid")
    rewriteParquetDir(spark, s"$path/sets", numFiles)(
      _.join(del, Seq("__cid"), "left_anti"))
    rewriteParquetDir(spark, s"$path/buckets", numFiles)(
      _.join(del, Seq("__cid"), "left_anti"))
    Seq("sets", "buckets").foreach(t =>
      SnapshotDir.gc(spark, s"$path/$t", keepVersions = 1))
  }

  /** DELETE fingerprints from a persisted `HammingIndex`. The banded
    * table stores (hash, band, bucket) tuples without ids (the probe
    * never needs corpus ids), so deletion is keyed by the HASH: pass
    * the deleted items' fingerprints; every tuple of an equal hash goes
    * (items sharing a 64-bit fingerprint are byte-duplicates of each
    * other at these operators' resolution — if one is taken down, its
    * identical twins are the same content).
    *
    * @param hashes one-column DataFrame of the 64-bit hashes to delete
    */
  def deleteFromHammingIndex(spark: SparkSession, path: String,
      hashes: DataFrame, numFiles: Int = 32): Unit = {
    val del = hashes.toDF("__ch")
    rewriteParquetDir(spark, s"$path/buckets", numFiles)(
      _.join(del, Seq("__ch"), "left_anti"))
    SnapshotDir.gc(spark, s"$path/buckets", keepVersions = 1)
  }

  /** In-memory append — the same survivors-only derivation as
    * [[appendToMinhashIndex]], unioned into a new [[MinhashIndex]]
    * without touching storage. */
  def appendToIndex(index: MinhashIndex, survivors: DataFrame,
      idCol: String, textCol: String): MinhashIndex = {
    val (sets, buckets) = minhashIndexRows(survivors, idCol, textCol,
      index.n, index.k, index.rowsPerBand)
    MinhashIndex(index.sets.unionByName(sets),
      index.buckets.unionByName(buckets),
      index.n, index.k, index.rowsPerBand)
  }

  def incrementalMinhashDedup(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int,
      threshold: Double): DataFrame =
    incrementalMinhashDedup(batch,
      minhashIndex(corpus, idCol, textCol, n, k, rowsPerBand),
      idCol, textCol, n, k, rowsPerBand, threshold)

  def incrementalMinhashDedup(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame =
    incrementalMinhashDedup(batch, corpus, idCol, textCol, 3, 64, 4, 0.8)

  /** Probe under the index's own stored parameters — the natural form
    * for a loaded index (no way to pass a mismatch). */
  def incrementalMinhashDedup(batch: DataFrame, index: MinhashIndex,
      idCol: String, textCol: String, threshold: Double): DataFrame =
    incrementalMinhashDedup(batch, index, idCol, textCol,
      index.n, index.k, index.rowsPerBand, threshold)

  /** The per-ingest probe against a prebuilt [[MinhashIndex]]. The
    * (n, k, rowsPerBand) arguments must equal the parameters the index
    * was built with — a silent mismatch would band the batch into a
    * different bucket space and miss every near-dup. */
  def incrementalMinhashDedup(batch: DataFrame, index: MinhashIndex,
      idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    require(n == index.n && k == index.k && rowsPerBand == index.rowsPerBand,
      s"probe parameters (n=$n, k=$k, rowsPerBand=$rowsPerBand) must match " +
        s"the index build parameters (n=${index.n}, k=${index.k}, " +
        s"rowsPerBand=${index.rowsPerBand})")
    val corpusSets = index.sets
    val corpusBuckets = index.buckets
    val batchSets = batch
      .select(col(idCol).as("__bid"), shingleSet(col(textCol), n).as("__bsh"))
      .localCheckpoint()
    val batchBuckets = batchSets
      .filter(size(col("__bsh")) > 0)
      .withColumn("__bsig", minhashSignature(col("__bsh"), k))
      .localCheckpoint()
      .select(col("__bid"),
        explode(lshBands(col("__bsig"), k, rowsPerBand)).as("bb"))
      .select(col("__bid"), col("bb.band"), col("bb.bucket"))
    val candidates = batchBuckets
      .join(corpusBuckets, Seq("band", "bucket"))
      .select("__bid", "__cid").distinct()
    val drops = candidates
      .join(batchSets.select(col("__bid"), col("__bsh")), "__bid")
      .join(corpusSets.select(col("__cid"), col("__csh")), "__cid")
      .withColumn("__inter",
        size(array_intersect(col("__bsh"), col("__csh"))).cast("double"))
      .filter(col("__inter") /
        (size(col("__bsh")) + size(col("__csh")) - col("__inter"))
        >= threshold)
      .select("__bid").distinct()
    batchSets.select(col("__bid"))
      .join(drops, Seq("__bid"), "left_anti")
      .select(col("__bid").as(idCol))
  }

  /** Corpus-level exact LINE dedup (the C4/RefinedWeb boilerplate rule):
    * across the whole corpus, only the FIRST occurrence — smallest
    * (id, lineIdx) — of every distinct line survives; documents are
    * reassembled preserving the surviving lines' order, and documents
    * whose every line lost keep an empty string.
    *
    * 100 TB shape: one explode (bounded by lines-per-doc), ONE partial/
    * final min-struct aggregation keyed by the line text — the winner
    * (id, idx) IS the kept occurrence, so no filter-back join or window
    * is needed and the exchange carries only DISTINCT lines (map-side
    * combine absorbs popular boilerplate lines — skew-safe by
    * associativity) — then one shuffle on the doc id for reassembly.
    * Never an all-pairs comparison.
    *
    * @param lines array<string> column of the document's lines
    * @return (idCol, text_clean, n_kept, n_lines)
    */
  /** Exact SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 — the ExactSubstr
    * mode): any ≥k-token substring that occurs more than once across the
    * corpus keeps only its FIRST occurrence (smallest (id, pos)); every
    * other occurrence's tokens are removed from their documents.
    *
    * The paper builds a corpus-wide suffix array; the distributed
    * equivalent here is a sorted k-shingle index — a duplicated run of
    * length L ≥ k is exactly a maximal chain of ≥ L−k+1 duplicated
    * k-shingles, so marking every non-winner shingle occurrence and
    * merging overlapping/adjacent [pos, pos+k) spans per document
    * removes the same token ranges, and consecutive losing shingles
    * coalesce into one span per duplicated run.
    *
    * 100 TB shape: winners are a shingle-keyed partial/final
    * `min(struct(id, pos))` AGGREGATE — associative, so map-side combine
    * absorbs ubiquitous boilerplate shingles before any shuffle (web
    * boilerplate k-grams are the canonical skew key) — then an equi-join
    * of occurrences back onto the 1-row-per-shingle winners table, which
    * AQE can skew-split (a window over the shingle could not: window ≠
    * join, no partial agg, no skew handling). Then one doc-keyed shuffle
    * whose payload is only the losing span starts (bounded by
    * tokens-per-doc). Span merging and text rebuild are per-row folds.
    *
    * @param toks array<string> token column
    * @param k    minimum duplicated run length in tokens
    * @return (idCol, n_tokens, n_spans, n_removed, text_dedup)
    */
  def substringDedup(df: DataFrame, idCol: String, toks: Column, k: Int,
      sep: String = " "): DataFrame = {
    val base = df.select(col(idCol), toks.as("__toks"))
    val n = size(col("__toks"))
    val shingles = when(n >= k,
      transform(sequence(lit(0), n - k),
        i => concat_ws(sep, slice(col("__toks"), i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
    val ex = base.select(col(idCol),
      posexplode(shingles).as(Seq("__pos", "__sh")))
    val winners = ex.groupBy(col("__sh"))
      .agg(min(struct(col(idCol).as("id"), col("__pos").cast("long").as("p")))
        .as("__w"))
    val losers = ex.join(winners, Seq("__sh"))
      .filter(!(col("__w.id") === col(idCol) && col("__w.p") === col("__pos")))
      .select(col(idCol), col("__pos").cast("long").as("__pos"))
    val spansDf = losers.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
      .select(col(idCol), mergeSpans(col("__starts"), k).as("__spans"))
    val idxed = transform(col("__toks"),
      (t, i) => struct(t.as("t"), i.cast("long").as("i")))
    val kept = filter(idxed, x => !exists(col("__spans"),
      sp => sp("st") <= x("i") && x("i") < sp("en")))
    base.join(spansDf, Seq(idCol), "left_outer")
      .select(col(idCol), col("__toks"),
        coalesce(col("__spans"), emptySpans).as("__spans"))
      .select(col(idCol),
        n.cast("long").as("n_tokens"),
        size(col("__spans")).cast("long").as("n_spans"),
        aggregate(col("__spans"), lit(0L),
          (a, sp) => a + sp("en") - sp("st")).as("n_removed"),
        concat_ws(sep, transform(kept, x => x("t"))).as("text_dedup"))
  }

  private val emptySpans = array().cast("array<struct<st:bigint,en:bigint>>")

  /** Fold SORTED k-length span starts into merged disjoint [st, en)
    * islands: a start s <= last.en extends the island (spans are all
    * length k and starts sorted, so the new end is s + k); s > last.en
    * opens a new one. Shared by [[substringDedup]] and
    * [[decontaminateSpans]]. */
  private def mergeSpans(starts: Column, k: Int): Column =
    aggregate(starts, emptySpans, (acc, s) =>
      when(size(acc) === 0 || s > element_at(acc, -1)("en"),
        concat(acc, array(struct(s.as("st"), (s + k).as("en")))))
        .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(element_at(acc, -1)("st").as("st"),
            (s + k).as("en"))))))

  /** SPAN-level decontamination (the OLMo/Lee-style surgical variant of
    * [[contaminationScore]]'s document flagging): REMOVE every ≥k-token
    * run of a corpus document that appears verbatim anywhere in the
    * benchmark suite, keeping the rest of the document — dropping whole
    * documents for one quoted question throws away good tokens, and
    * leaving the span leaks the benchmark. Matching is exact k-gram
    * containment; every k-gram hit marks its k positions, and overlapping
    * hits merge into maximal removal spans (so a 12-token quote with
    * k = 8 removes exactly its 12 tokens).
    *
    * 100 TB shape: the benchmark side collapses to its distinct k-gram
    * set — eval suites are tiny — and BROADCASTS, so hit detection is a
    * map-side probe of the exploded corpus shingles; the only shuffles
    * are the per-document hit-position aggregation and the join-back
    * (both doc-keyed, partial map-side combine). The span merge is the
    * same sorted fold as [[substringDedup]].
    *
    * @return (id, n_tokens, n_spans, n_removed, text_clean)
    */
  def decontaminateSpans(corpus: DataFrame, idCol: String, toks: Column,
      benchmark: DataFrame, benchToks: Column, k: Int,
      sep: String = " "): DataFrame = {
    def kShingles(tcol: Column): Column = when(size(tcol) >= k,
      transform(sequence(lit(0), size(tcol) - k),
        i => concat_ws(sep, slice(tcol, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
    val base = corpus.select(col(idCol), toks.as("__toks"))
    val n = size(col("__toks"))
    val benchSh = benchmark
      .select(explode(kShingles(benchToks)).as("__sh")).distinct()
    val hits = base
      .select(col(idCol), posexplode(kShingles(col("__toks")))
        .as(Seq("__pos", "__sh")))
      .join(broadcast(benchSh), Seq("__sh"), "left_semi")
      .select(col(idCol), col("__pos").cast("long").as("__pos"))
    val spansDf = hits.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
      .select(col(idCol), mergeSpans(col("__starts"), k).as("__spans"))
    val idxed = transform(col("__toks"),
      (t, i) => struct(t.as("t"), i.cast("long").as("i")))
    val kept = filter(idxed, x => !exists(col("__spans"),
      sp => sp("st") <= x("i") && x("i") < sp("en")))
    base.join(spansDf, Seq(idCol), "left_outer")
      .select(col(idCol), col("__toks"),
        coalesce(col("__spans"), emptySpans).as("__spans"))
      .select(col(idCol),
        n.cast("long").as("n_tokens"),
        size(col("__spans")).cast("long").as("n_spans"),
        aggregate(col("__spans"), lit(0L),
          (a, sp) => a + sp("en") - sp("st")).as("n_removed"),
        concat_ws(sep, transform(kept, x => x("t"))).as("text_clean"))
  }

  def lineDedup(
      df: DataFrame, idCol: String, lines: Column,
      sep: String = "\n"): DataFrame = {
    val ex = df.select(col(idCol), posexplode(lines).as(Seq("__idx", "__line")))
    val kept = ex.groupBy(col("__line"))
      .agg(min(struct(col(idCol), col("__idx"))).as("__w"))
      .select(col(s"__w.$idCol").as(idCol),
        col("__w.__idx").as("__idx"), col("__line"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__idx"), col("__line"))))
        .as("__kept"))
      .select(col(idCol),
        concat_ws(sep, transform(col("__kept"), k => k("__line")))
          .as("text_clean"),
        size(col("__kept")).cast("long").as("n_kept"))
    df.select(col(idCol), size(lines).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("n_lines"))
  }
}
