package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — the retrieval twin of the dedup-index
  * lifecycle ([[Dedup.saveMinhashIndex]] family). Training-data pipelines
  * run retrieval constantly at 100 TB: benchmark-decontamination lookups,
  * quality-by-retrievability scoring, and dataset search all probe a
  * corpus-scale index that is BUILT once and then served across nightly
  * ingests — rebuilding per query (what [[TextAnalysis.bm25]] does, and
  * every engine's ad-hoc form) rescans the corpus for every question.
  *
  * On-disk layout under `dir`:
  *  - `postings/` (token, doc_id, tf) — the inverted index proper. A probe
  *    filters it to the query's terms, so parquet dictionary/min-max
  *    pruning keeps the read proportional to the matched postings, never
  *    the corpus.
  *  - `lens/` (doc_id, dl) — per-document token counts for the BM25
  *    length normalization.
  *  - `meta/` — one row PER WRITE: (n_docs_delta, total_dl_delta, k1, b).
  *    Corpus statistics are stored as accumulated deltas so append and
  *    delete stay O(batch): a probe sums the handful of delta rows
  *    (bounded by the number of writes — collapsed by [[compactBm25Index]])
  *    instead of re-aggregating billions of `lens/` rows.
  *
  * Lifecycle verbs mirror the dedup indexes: build+persist
  * ([[saveBm25Index]]) / load-as-pinned-snapshot ([[loadBm25Index]]) /
  * probe ([[bm25Probe]]) / [[appendToBm25Index]] (cost ∝ batch) /
  * [[deleteFromBm25Index]] (snapshot rewrite) / [[compactBm25Index]].
  * All three tables are [[SnapshotDir]]-versioned from the save on,
  * advancing in lockstep. Loads pin the file SET via [[Dedup.snapshotFiles]]
  * for the same reason the dedup indexes do: `InMemoryFileIndex` equality
  * compares only rootPaths, so an unpinned post-append probe could be
  * served a reused pre-append scan stage.
  */
object Retrieval {

  /** A loaded BM25 index: pinned-snapshot postings + lens scans and the
    * summed corpus statistics / parameters they were built under. */
  final case class Bm25Index(postings: DataFrame, lens: DataFrame,
      nDocs: Long, totalDl: Long, k1: Double, b: Double)

  /** The shared tokenize→postings derivation of build and append: one
    * pass over the explode, one (doc, token) partial-agg shuffle; `lens`
    * reuses the postings rows (sum of tf per doc), so the text is
    * tokenized exactly once. Documents with zero tokens contribute no
    * rows — they are invisible to BM25, matching the per-call operator. */
  private[graft] def bm25IndexRows(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val postings = docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // one tokenize feeds both tables
    val lens = postings.groupBy(col("doc_id")).agg(sum("tf").as("dl"))
    (postings, lens)
  }

  /** Build and persist the index. Statistics are aggregated from the
    * WRITTEN `lens/` files (one cheap scan of what was just written, no
    * recompute and no second tokenize) and stored as the first meta
    * delta row. */
  def saveBm25Index(docs: DataFrame, idCol: String, textCol: String,
      dir: String, k1: Double = 1.2, b: Double = 0.75): Unit = {
    val (postings, lens) = bm25IndexRows(docs, idCol, textCol)
    saveBm25IndexRows(postings, lens, dir, k1, b)
  }

  /** [[saveBm25Index]] over pre-derived (postings, lens) rows, each
    * table committed as snapshot v1. The corpus statistics RIDE the
    * lens write as an Observation (round 16):
    * count/sum are partition-invariant, so the observed values are
    * bit-identical to the former read-back-and-aggregate of the written
    * `lens/` files — one less scan job per save, and at 100 TB one less
    * full pass over the lens table. */
  private[graft] def saveBm25IndexRows(postings: DataFrame,
      lens: DataFrame, dir: String, k1: Double = 1.2,
      b: Double = 0.75): Unit = {
    val spark = postings.sparkSession
    Dedup.saveParquet(postings, s"$dir/postings")
    val obs = org.apache.spark.sql.Observation(
      s"bm25_save_${java.util.UUID.randomUUID()}")
    Dedup.saveParquet(lens.observe(obs,
        count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("t")),
      s"$dir/lens")
    import spark.implicits._
    Dedup.saveParquet(
      Seq((obs.get("n").asInstanceOf[Long], obs.get("t").asInstanceOf[Long]))
        .toDF("n_docs_delta", "total_dl_delta")
        .select(col("n_docs_delta"), col("total_dl_delta"),
          lit(k1).as("k1"), lit(b).as("b"))
        .coalesce(1),
      s"$dir/meta")
  }

  /** Load as a pinned snapshot. The meta collect is bounded by the number
    * of writes since the last compaction (one row each), not by data. */
  def loadBm25Index(spark: SparkSession, dir: String): Bm25Index =
    loadBm25Files(spark, dir,
      sub => Dedup.snapshotFiles(spark, s"$dir/$sub"))

  /** TIME TRAVEL ([[SnapshotDir.filesAt]]): load the index AS OF a
    * specific committed snapshot version — the retrieval
    * twin of [[Dedup.loadMinhashIndexAt]]. `version` addresses all three
    * tables (`postings/`, `lens/`, `meta/`) in LOCKSTEP: every public
    * maintenance verb (append, delete, compact) commits each table
    * exactly once per call, so the three histories advance together —
    * and `meta/` MUST travel with the data (yesterday's probe needs
    * yesterday's n_docs/total_dl, or idf and length normalization score
    * against the wrong corpus). Fails loudly on an unknown or
    * gc-expired version — a delete expires every version but its own. */
  def loadBm25IndexAt(spark: SparkSession, dir: String,
      version: Long): Bm25Index =
    loadBm25Files(spark, dir,
      sub => SnapshotDir.filesAt(spark, s"$dir/$sub", version))

  private def loadBm25Files(spark: SparkSession, dir: String,
      files: String => Seq[String]): Bm25Index = {
    val meta = spark.read
      .parquet(files("meta"): _*)
      .agg(sum("n_docs_delta").as("n"), sum("total_dl_delta").as("t"),
        max("k1").as("k1"), max("b").as("b"))
      .collect().head
    // Append/delete meta rows carry null k1/b (the parameters belong to
    // the BUILD); an index that was never saveBm25Index-built has no
    // non-null row, and a silent getAs[Double] would unbox null to 0.0 —
    // degenerate BM25 (score collapses to idf). Fail loudly instead.
    require(!meta.isNullAt(meta.fieldIndex("k1")) &&
        !meta.isNullAt(meta.fieldIndex("b")),
      s"BM25 index at $dir has no build-time k1/b parameters — it was " +
        "created by append alone, never by saveBm25Index")
    Bm25Index(
      spark.read.parquet(files("postings"): _*),
      spark.read.parquet(files("lens"): _*),
      meta.getAs[Long]("n"), meta.getAs[Long]("t"),
      meta.getAs[Double]("k1"), meta.getAs[Double]("b"))
  }

  /** APPEND a batch: tokenizes only the batch, appends its postings/lens
    * rows, and records the batch's statistics as one more meta delta row
    * — the existing corpus rows are never read or rewritten. Document
    * ids must be unique ACROSS appends (the same contract as the dedup
    * indexes): re-appending an id leaves two lens/posting rows for it
    * and double-counts it in the statistics. `skipExisting=true` makes
    * that misuse structurally impossible for at-least-once delivery
    * OUTSIDE the streaming path (which has its own manifest protection):
    * the batch's ids semi-join `lens/` (broadcast — the probe side is
    * batch-sized, so the corpus scan prunes to the id column and the
    * result is batch-bounded), and already-indexed documents are
    * anti-filtered out before anything is tokenized or written. */
  def appendToBm25Index(batch0: DataFrame, idCol: String, textCol: String,
      dir: String, skipExisting: Boolean = false): Unit = {
    val spark0 = batch0.sparkSession
    // a FIRST append onto a fresh dir (the streaming-bootstrap shape)
    // must stamp the default build parameters, or the index would carry
    // only null-k1/b delta rows and every load would (rightly) refuse it
    val bootstrap = !dirHasParquet(spark0, s"$dir/meta")
    val batch = if (!skipExisting || bootstrap) batch0 else {
      val ids = batch0.select(col(idCol).as("doc_id")).distinct()
      val already = spark0.read
        .parquet(Dedup.snapshotFiles(spark0, s"$dir/lens"): _*)
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
        .select(col("doc_id")) // batch-bounded — broadcastable back
      batch0.join(broadcast(already),
        batch0(idCol) === already("doc_id"), "left_anti")
    }
    val spark = batch.sparkSession
    val (postings, lens) = bm25IndexRows(batch, idCol, textCol)
    Dedup.appendParquet(postings, s"$dir/postings")
    val pinnedLens = lens.localCheckpoint() // batch-bounded
    Dedup.appendParquet(pinnedLens, s"$dir/lens")
    val (k1Col, bCol) =
      if (bootstrap) (lit(1.2).as("k1"), lit(0.75).as("b"))
      else (lit(null).cast("double").as("k1"),
        lit(null).cast("double").as("b"))
    val metaDelta = pinnedLens
      .agg(count(lit(1)).as("n_docs_delta"),
        coalesce(sum("dl"), lit(0L)).as("total_dl_delta"))
      .select(col("n_docs_delta"), col("total_dl_delta"), k1Col, bCol)
      .coalesce(1)
    Dedup.appendParquet(metaDelta, s"$dir/meta")
  }

  /** Whether `dir` holds at least one committed parquet file (a crashed
    * write can leave the dir with only uncommitted litter — "exists"
    * alone is not "has data"). */
  private def dirHasParquet(spark: SparkSession, dir: String): Boolean =
    committedFiles(spark, dir).nonEmpty

  /** A table's committed content IS its newest manifest — uncommitted
    * segment files are invisible by design. */
  private def committedFiles(
      spark: SparkSession, dir: String): Seq[String] =
    SnapshotDir.latest(spark, dir).map(_._2).getOrElse(Nil)

  /** Heal a CRASHED append (round 13 — the streaming replay repair,
    * replacing r12's delete-only form): remove whatever fraction of
    * `ids` landed, probing and rewriting `postings/` and `lens/`
    * INDEPENDENTLY — a mid-append crash can leave any prefix of the
    * write sequence (postings → lens → meta) — then RECOUNT the meta
    * statistics from `lens/` so the delta ledger is exact again
    * immediately (the r12 repair wrote a negative delta whose positive
    * counterpart may never have landed, converting an overcount into an
    * UNDERcount until the nightly compaction recounted). Absent/empty
    * directories are "nothing landed", not errors: a fresh index whose
    * FIRST append crashed between the manifest commit and the first
    * write has nothing to heal (the r12 form threw on the missing dir —
    * a permanent crash loop in exactly the recovery path the manifest
    * protocol exists for). The repair expires no version: it runs
    * between micro-batches of a live stream, whose pinned readers
    * outlive it. */
  def repairBm25Append(spark: SparkSession, dir: String,
      ids: DataFrame, numFiles: Int = 32): Unit = {
    val del = ids.toDF("doc_id").localCheckpoint()
    def landed(sub: String): Boolean = {
      val fs = committedFiles(spark, s"$dir/$sub")
      fs.nonEmpty && spark.read.parquet(fs: _*)
        .join(del, Seq("doc_id"), "left_semi")
        .limit(1).count() > 0
    }
    if (landed("postings"))
      Dedup.rewriteParquetDir(spark, s"$dir/postings", numFiles)(
        _.join(del, Seq("doc_id"), "left_anti"))
    if (landed("lens"))
      Dedup.rewriteParquetDir(spark, s"$dir/lens", numFiles)(
        _.join(del, Seq("doc_id"), "left_anti"))
    // lens is the source of truth for the statistics; with the batch's
    // rows gone, one meta recount makes the ledger exact regardless of
    // which writes (including prior drift) the crash interleaved
    if (dirHasParquet(spark, s"$dir/lens") &&
        dirHasParquet(spark, s"$dir/meta"))
      recountBm25Meta(spark, dir)
  }

  /** Recount n_docs/total_dl from `lens/` — the source of truth — and
    * collapse `meta/` to one exact row, keeping the stored k1/b: the
    * meta-only half of [[compactBm25Index]], for when the delta ledger
    * needs healing without the data-table rewrites. */
  def recountBm25Meta(spark: SparkSession, dir: String): Unit = {
    val recount = spark.read
      .parquet(Dedup.snapshotFiles(spark, s"$dir/lens"): _*)
      .agg(count(lit(1)).as("n_docs_delta"),
        coalesce(sum("dl"), lit(0L)).as("total_dl_delta"))
    Dedup.rewriteParquetDir(spark, s"$dir/meta", 1)(
      _.agg(max("k1").as("k1"), max("b").as("b"))
        .crossJoin(recount)
        .select(col("n_docs_delta"), col("total_dl_delta"),
          col("k1"), col("b")))
  }

  /** DELETE documents — the retention verb. The deleted documents'
    * statistics are captured (one bounded row) BEFORE the rewrites, then
    * `postings/` and `lens/` rewrite as new snapshot versions
    * ([[Dedup.rewriteParquetDir]]), then the negative meta delta lands,
    * then every older version of `postings/` and `lens/` expires so the
    * deleted documents' rows are gone from disk.
    * Content removal is ordered first on purpose: a crash after the
    * rewrites but before the meta row leaves deleted documents fully
    * unservable with stale idf statistics (scores shift, no deleted
    * content returns); a re-run of the delete cannot recover the lost
    * delta (the rows are gone — it appends zero), so the heal is
    * [[compactBm25Index]], which RECOUNTS the statistics from `lens/`
    * rather than summing deltas. Run it after any delete whose meta
    * write is in doubt. */
  def deleteFromBm25Index(spark: SparkSession, dir: String,
      ids: DataFrame, numFiles: Int = 32): Unit = {
    val del = ids.toDF("doc_id")
    val gone = spark.read
      .parquet(Dedup.snapshotFiles(spark, s"$dir/lens"): _*)
      .join(del, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("t"))
      .collect().head
    Dedup.rewriteParquetDir(spark, s"$dir/postings", numFiles)(
      _.join(del, Seq("doc_id"), "left_anti"))
    Dedup.rewriteParquetDir(spark, s"$dir/lens", numFiles)(
      _.join(del, Seq("doc_id"), "left_anti"))
    import spark.implicits._
    Dedup.appendParquet(
      Seq((-gone.getAs[Long]("n"), -gone.getAs[Long]("t")))
        .toDF("n_docs_delta", "total_dl_delta")
        .select(col("n_docs_delta"), col("total_dl_delta"),
          lit(null).cast("double").as("k1"), lit(null).cast("double").as("b"))
        .coalesce(1),
      s"$dir/meta")
    Seq("postings", "lens").foreach(t =>
      SnapshotDir.gc(spark, s"$dir/$t", keepVersions = 1))
  }

  /** Compact the data tables and collapse the accumulated meta deltas to
    * one row (keeping the stored k1/b). The collapsed statistics are
    * RECOUNTED from the compacted `lens/` table — the source of truth —
    * rather than summed from the deltas, so compaction is also the
    * idempotent heal for delta drift (a delete that crashed after its
    * table rewrites but before its negative delta landed would otherwise
    * overcount n_docs/total_dl forever). Bit-identical to the delta sum
    * in every healthy history; probe-neutral either way. */
  def compactBm25Index(spark: SparkSession, dir: String,
      numFiles: Int = 32): Unit = {
    Dedup.compactParquetDir(spark, s"$dir/postings", numFiles)
    Dedup.compactParquetDir(spark, s"$dir/lens", numFiles)
    recountBm25Meta(spark, dir)
  }

  /** Per-(token, doc) BM25 term scores of the matched postings `hits`:
    * document frequencies aggregate from `hits` alone into a broadcast,
    * only matching documents join `lens/`, and `__score_t` replays
    * [[TextAnalysis.bm25]]'s arithmetic under the index's corpus
    * statistics. The one scoring expression of [[bm25Probe]] and
    * [[bm25ProbeMany]]. */
  private def scoredHits(index: Bm25Index, hits: DataFrame): DataFrame = {
    val dfq = hits.groupBy(col("token")).agg(count(lit(1)).as("df"))
    hits
      .join(broadcast(dfq), "token")
      .join(index.lens, "doc_id")
      .withColumn("__score_t",
        (lit(index.nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) *
          (col("tf") * lit(index.k1 + 1.0)) /
          (col("tf") + lit(index.k1) *
            (lit(1.0 - index.b) +
              lit(index.b) * col("dl") * lit(index.nDocs) /
                lit(index.totalDl))))
  }

  /** Serve a BM25 top-k from a loaded index. Probe cost ∝ the query
    * terms' postings, never the corpus: the token filter pushes into the
    * postings scan (dictionary/min-max pruning), per-term document
    * frequencies aggregate over just those rows into a ≤|terms|-row
    * broadcast, and only matching documents join `lens/` for length
    * normalization. Scores replay [[TextAnalysis.bm25]]'s arithmetic
    * EXPRESSION-FOR-EXPRESSION — per-term scores pivot into columns and
    * sum in fixed term order, because a float sum aggregated in partition
    * order would not be bit-stable. Top-k fuses to TakeOrderedAndProject
    * (distributed heap), then ranks the surviving k rows.
    *
    * @return (doc_id, score, rank), rank 1..k
    */
  def bm25Probe(index: Bm25Index, query: Seq[String], k: Int): DataFrame = {
    val terms = query.distinct
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(index.nDocs > 0, "bm25 probe over an empty index")
    val hits = index.postings.filter(col("token").isin(terms.map(lit): _*))
    val scored = scoredHits(index, hits)
    // pivot columns are named by term INDEX, not the raw term — a term
    // containing '.' or '`' would otherwise break col() resolution
    // (TextAnalysis.bm25 uses the same convention for the same reason)
    val aggCols = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("token") === t, col("__score_t"))).as(s"__s_$i")
    }
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val summed = perDoc.withColumn("score",
      terms.indices.map(i => coalesce(col(s"__s_$i"), lit(0.0)))
        .reduce(_ + _))
    val top = summed.orderBy(col("score").desc, col("doc_id").asc).limit(k)
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("score"), col("rank"))
  }

  /** BATCHED retrieval — N queries against the index in ONE corpus pass,
    * the shape production decontamination and retrieval-quality scoring
    * actually run (thousands of benchmark queries at once; per-query
    * [[bm25Probe]] calls would rescan the postings N times). The union
    * of all query terms joins the postings once (a broadcast semi-join —
    * the term set is query-sized; static IN-pushdown needs literals, so
    * the single-query probe keeps that form), per-term document
    * frequencies aggregate from those matched rows, and each (query,
    * doc) sums its term scores by FOLDING over the score list sorted by
    * the term's POSITION in the query — `aggregate` over `sort_array`, a
    * sequential fold in a total order, so the double sum is bit-stable
    * regardless of partitioning (and SQL-replayable by the same fold).
    * Position order rather than token order on purpose: it is
    * [[bm25Probe]]'s caller-order association, so the batched and solo
    * probes agree BIT-FOR-BIT on identical term lists (IEEE addition is
    * not associative — a different fold order would diverge in the last
    * ulp on 3+ term queries). Per-query top-k is a
    * rank-filtered window partitioned by query — the filter sits
    * directly on the raw row_number so `InferWindowGroupLimit` plans a
    * partial WindowGroupLimit below the exchange: every partition keeps
    * only k rows per query before anything shuffles.
    *
    * @param queries (queryIdCol, termsCol: array<string>) — terms are
    *                de-duplicated per query
    * @return (queryIdCol, doc_id, score, rank), rank 1..k per query
    */
  def bm25ProbeMany(index: Bm25Index, queries: DataFrame,
      queryIdCol: String, termsCol: String, k: Int): DataFrame = {
    require(index.nDocs > 0, "bm25 probe over an empty index")
    val qt = queries.select(col(queryIdCol),
      posexplode(array_distinct(col(termsCol))).as(Seq("__pos", "token")))
    val allTerms = qt.select(col("token")).distinct()
    val hits = index.postings
      .join(broadcast(allTerms), Seq("token"), "left_semi")
    val scored = scoredHits(index, hits)
    val perQueryDoc = scored
      .join(qt.withColumnRenamed(queryIdCol, "__qid"), "token")
      .groupBy(col("__qid"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("__pos"),
        col("__score_t").as("s")))).as("__ts"))
      .withColumn("score",
        aggregate(col("__ts"), lit(0.0), (acc, x) => acc + x("s")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    perQueryDoc
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k) // raw rank filter → WindowGroupLimit
      .select(col("__qid").as(queryIdCol), col("doc_id"), col("score"),
        col("__rn").cast("int").as("rank"))
  }
}
