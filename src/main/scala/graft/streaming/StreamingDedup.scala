package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming exact dedup — the continuous-ingest twin of
  * [[graft.functions.Dedup.exactDupGroups]]: drop any document whose
  * content hash was already seen, as data arrives.
  *
  * `dropDuplicatesWithinWatermark` keys state on the content hash and —
  * unlike plain `dropDuplicates`, whose state grows forever — evicts
  * entries once they age past the event-time watermark. At 100 TB-ingest
  * scale that bound is what keeps the state store finite: the operator
  * holds only the hashes seen inside the watermark horizon, spilled and
  * checkpointed by the state store like any streaming agg. Duplicates
  * further apart than the horizon are caught by the periodic batch
  * `exactDupGroups` compaction pass — the standard lambda split.
  *
  * INDEX MAINTENANCE vs A LIVE STREAM (the shared contract of every
  * index-backed stream here — minhash, hamming, semantic/IVF, BM25):
  * every micro-batch loads the index FRESH (a metadata-only manifest
  * read), so a retention DELETE or a compaction run BETWEEN
  * micro-batches propagates into the very next probe — no restart
  * needed (StreamingDedupSpec pins the semantic-delete case). Every
  * index table is [[graft.functions.SnapshotDir]]-versioned, so
  * appends and compactions never delete a file a mid-probe micro-batch
  * pinned: they may run while a batch is in flight. QUIESCE RULE, for
  * DELETES only: a delete expires every older version of the tables it
  * rewrites (the deleted rows must leave the disk), so a micro-batch
  * that pinned one of them fails mid-job with a missing file. Pause the
  * stream (or schedule the delete between triggers — with a
  * processing-time trigger, any gap longer than a micro-batch) before
  * deleting, then resume. The manifest protocol is unaffected either
  * way: it keys on batchId and ids, not file sets, so a replay across
  * a maintenance boundary still rebuilds its committed survivor set.
  */
object StreamingDedup {

  /** Deduplicate a streaming frame by content hash of `textCol`.
    *
    * @param events    streaming DataFrame with an event-time column
    * @param tsCol     event-time column used for the watermark
    * @param textCol   content column; rows with equal md5 are duplicates
    * @param horizon   watermark delay, e.g. "1 hour" — dup-detection window
    */
  def dedupStream(
      events: DataFrame, tsCol: String, textCol: String,
      horizon: String): DataFrame =
    events
      .withColumn("__text_hash", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("__text_hash")
      .drop("__text_hash")

  /** Continuous-ingest NEAR-dup dedup against a PERSISTED MinHash index
    * (round 11) — the streaming form of the `pl_index_update` lifecycle:
    * every micro-batch probes the stored corpus index with the
    * gate-proven batch operator
    * ([[graft.functions.Dedup.incrementalMinhashDedup]]), sinks the
    * survivors, and (when `appendSurvivors`) appends them to the index —
    * so later micro-batches near-dup against earlier ones, exactly the
    * nightly build→probe→append loop compressed to micro-batch cadence.
    *
    * `foreachBatch` is the right tool, not a streaming plan: the probe
    * needs batch-only primitives (an eager signature checkpoint and an
    * anti-join against drops derived from the batch itself — a
    * stream-stream anti-join no streaming planner accepts), and the
    * micro-batch boundary makes them legal — the same pattern lakehouse
    * MERGE sinks use. Index reload per micro-batch is metadata-only (a
    * manifest read + a one-row meta read).
    *
    * REPLAY SAFETY (Structured Streaming re-executes a micro-batch after
    * a sink failure or a crash before the batch commits): a re-executed
    * probe would find the batch's OWN previously-appended survivors in
    * the index — each an exact self-dup — and silently drop them. The
    * per-batch body therefore commits its survivor-id MANIFEST before
    * touching the index; a replay detects the manifest and rebuilds the
    * same survivor set from it instead of re-probing, re-appends only if
    * the append marker is missing (a crash between append and marker can
    * duplicate index rows once — probe-neutral, since candidates and
    * drops are set-semantics), and hands the sink the identical rows.
    * The sink must be idempotent per batchId, as for every foreachBatch
    * sink.
    *
    * MANIFEST SCOPING (round 12, the r11 ADVICE finding): manifests are
    * keyed by batchId, and batchIds are only meaningful WITHIN one
    * checkpoint lineage — a fresh query restarts them at 0, so manifests
    * must never outlive their checkpoint. They therefore live under the
    * CHECKPOINT directory (`<checkpoint>/graft_batches/`), not under the
    * index: a restart from the same checkpoint continues the same batchId
    * sequence and finds exactly its own manifests; a fresh query gets a
    * fresh checkpoint — explicit via `checkpointLocation`, or a
    * generated temporary one — and so can never collide with a prior
    * run's stale manifest (the silent-drop bug the r11 layout had).
    * Manifests older than the previous batch are pruned as the stream
    * advances (Structured Streaming only ever replays the last
    * uncommitted batch), so the manifest dir stays O(1).
    *
    * @param checkpointLocation the stream's checkpoint dir — pass one to
    *                           make the stream RESTARTABLE (offsets +
    *                           manifests survive); omitted, a temporary
    *                           per-run dir is generated (no cross-run
    *                           replay, and no cross-run collision)
    * @param sink runs once per micro-batch on the SURVIVING rows (full
    *             input columns)
    */
  def minhashDedupStream(
      events: DataFrame, indexPath: String, idCol: String, textCol: String,
      threshold: Double, appendSurvivors: Boolean = true,
      checkpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery = {
    val ckpt = resolvedCheckpoint(checkpointLocation, "graft-mh-stream")
    events.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(probeBatch(batch, indexPath, manifestRoot(ckpt), batchId,
          idCol, textCol, threshold, appendSurvivors))
      }
      .start()
  }

  /** Continuous-ingest near-dup dedup for the MEDIA path (round 12):
    * micro-batches of 64-bit perceptual fingerprints (image dHash —
    * [[graft.multimodal.Multimodal.dhash64]] — audio/video fingerprints,
    * text simhash) probe a persisted banded-Hamming index
    * ([[graft.functions.Dedup.loadHammingIndex]] +
    * [[graft.functions.Dedup.incrementalHammingDedup]]), sink the
    * survivors, and append them — the [[minhashDedupStream]] lifecycle
    * with the Hamming family swapped in. Same foreachBatch rationale,
    * same manifest replay-safety and checkpoint scoping (the shared
    * [[runBatch]] machinery); the probe itself is the pigeonhole-exact
    * banded equi-join, cost ∝ batch.
    *
    * @param events streaming DataFrame carrying (idCol, hashCol) — the
    *               fingerprint is computed upstream (decode work stays in
    *               the ingest map stage, not the dedup)
    */
  def hammingDedupStream(
      events: DataFrame, indexPath: String, idCol: String, hashCol: String,
      maxDist: Int, appendSurvivors: Boolean = true,
      checkpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery = {
    val ckpt = resolvedCheckpoint(checkpointLocation, "graft-hm-stream")
    events.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(probeHammingBatch(batch, indexPath, manifestRoot(ckpt),
          batchId, idCol, hashCol, maxDist, appendSurvivors))
      }
      .start()
  }

  /** Continuous-ingest SEMANTIC dedup for the embedding path (round 12):
    * micro-batches of (id, embedding) probe a persisted IVF index
    * ([[graft.functions.Similarity.incrementalSemDedup]] — compare only
    * within the batch's nProbe nearest cells, under the FROZEN
    * quantizer), sink the survivors, and append them to their cells —
    * the third streaming twin beside [[minhashDedupStream]] (text) and
    * [[hammingDedupStream]] (media fingerprints), completing the
    * modality matrix. Same manifest replay-safety and checkpoint
    * scoping via the shared [[runBatch]].
    */
  def semDedupStream(
      events: DataFrame, indexPath: String, idCol: String, vecCol: String,
      threshold: Double, nProbe: Int = 2, appendSurvivors: Boolean = true,
      checkpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery = {
    val ckpt = resolvedCheckpoint(checkpointLocation, "graft-sd-stream")
    events.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(probeSemBatch(batch, indexPath, manifestRoot(ckpt), batchId,
          idCol, vecCol, threshold, nProbe, appendSurvivors))
      }
      .start()
  }

  /** The per-micro-batch body of [[semDedupStream]] (same testability
    * contract as [[probeBatch]]). */
  def probeSemBatch(batch: DataFrame, indexPath: String,
      manifestRoot: String, batchId: Long, idCol: String, vecCol: String,
      threshold: Double, nProbe: Int, appendSurvivors: Boolean): DataFrame = {
    import graft.functions.Similarity
    runBatch(batch, manifestRoot, batchId, idCol, appendSurvivors,
      probe = b => {
        val spark = b.sparkSession
        b.join(Similarity.incrementalSemDedup(
            b, Similarity.loadIvfIndex(spark, indexPath), idCol, vecCol,
            threshold, nProbe).select(idCol), Seq(idCol), "left_semi")
      },
      append = surv => Similarity.appendToIvfIndex(
        surv.sparkSession, indexPath, surv, idCol, vecCol))
  }

  private def resolvedCheckpoint(
      explicit: Option[String], prefix: String): String =
    explicit.getOrElse(
      java.nio.file.Files.createTempDirectory(prefix).toString)

  /** The manifest/marker directory for one checkpoint lineage. */
  private def manifestRoot(checkpoint: String): String =
    s"$checkpoint/graft_batches"

  /** The per-micro-batch body of [[minhashDedupStream]], exposed so
    * replay idempotence is directly testable: calling it twice with the
    * same (manifestRoot, batchId) returns the same survivor set and
    * leaves the index correct (StreamingDedupSpec pins it). */
  def probeBatch(batch: DataFrame, indexPath: String, manifestRoot: String,
      batchId: Long, idCol: String, textCol: String, threshold: Double,
      appendSurvivors: Boolean): DataFrame = {
    import graft.functions.Dedup
    runBatch(batch, manifestRoot, batchId, idCol, appendSurvivors,
      probe = b => {
        val spark = b.sparkSession
        b.join(Dedup.incrementalMinhashDedup(
            b, Dedup.loadMinhashIndex(spark, indexPath), idCol, textCol,
            threshold), Seq(idCol), "left_semi")
      },
      append = surv => Dedup.appendToMinhashIndex(
        surv.sparkSession, indexPath, surv, idCol, textCol))
  }

  /** The per-micro-batch body of [[hammingDedupStream]] (same
    * testability contract as [[probeBatch]]). */
  def probeHammingBatch(batch: DataFrame, indexPath: String,
      manifestRoot: String, batchId: Long, idCol: String, hashCol: String,
      maxDist: Int, appendSurvivors: Boolean): DataFrame = {
    import graft.functions.Dedup
    runBatch(batch, manifestRoot, batchId, idCol, appendSurvivors,
      probe = b => {
        val spark = b.sparkSession
        b.join(Dedup.incrementalHammingDedup(
            b, Dedup.loadHammingIndex(spark, indexPath), idCol, hashCol,
            maxDist), Seq(idCol), "left_semi")
      },
      append = surv => Dedup.appendToHammingIndex(
        surv.sparkSession, indexPath, surv, idCol, hashCol))
  }

  /** The shared manifest-committed micro-batch protocol: replay-detect →
    * probe-or-rebuild → append-once → prune old manifests. `probe` maps
    * the batch to its surviving rows; `append` persists survivors to the
    * index. The manifest's _SUCCESS is the batch's commit point: written
    * before any index mutation, so every earlier crash re-probes a clean
    * index and every later crash replays from the manifest.
    *
    * `repairOnReplay` (round 12) runs with the committed MANIFEST ids
    * before a replay's re-append (replay detected + append marker
    * missing): the hook for indexes whose appends are not set-semantics
    * (BM25's statistics double-count on re-append, where the dedup
    * indexes' duplicated rows are probe-neutral). It receives the
    * manifest ids, not the re-delivered batch's — the manifest is the
    * committed record of what can have landed. */
  private def runBatch(batch: DataFrame, manifestRoot: String,
      batchId: Long, idCol: String, appendSurvivors: Boolean,
      probe: DataFrame => DataFrame,
      append: DataFrame => Unit,
      repairOnReplay: Option[DataFrame => Unit] = None): DataFrame = {
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val manifestDir = s"$manifestRoot/manifest-$batchId"
    val manifestDone =
      new org.apache.hadoop.fs.Path(s"$manifestDir/_SUCCESS")
    val appendMarker =
      new org.apache.hadoop.fs.Path(s"$manifestRoot/appended-$batchId")
    val fs = manifestDone.getFileSystem(hconf)
    val replay = fs.exists(manifestDone)
    val survivors =
      if (replay)
        // the index may already contain this batch's survivors (their
        // self-matches would wrongly drop them) — rebuild from the
        // committed manifest, never re-probe
        batch.join(spark.read.parquet(manifestDir), Seq(idCol), "left_semi")
          .localCheckpoint()
      else {
        val s = probe(batch).localCheckpoint()
        s.select(idCol).write.mode("overwrite").parquet(manifestDir)
        s
      }
    if (appendSurvivors && !fs.exists(appendMarker)) {
      if (replay)
        repairOnReplay.foreach(_(spark.read.parquet(manifestDir)))
      append(survivors)
      fs.create(appendMarker, true).close()
    }
    pruneManifests(fs, manifestRoot, batchId)
    survivors
  }

  /** Continuous INDEXING for the retrieval path (round 12): every
    * micro-batch of documents is appended to a persisted BM25 inverted
    * index ([[graft.functions.Retrieval]]) — the stream that keeps the
    * decontamination / dataset-search index fresh as data arrives. No
    * dedup semantics (every row is indexed); what the manifest/marker
    * protocol guards here is the STATISTICS: BM25 appends are not
    * set-semantics like the dedup indexes — a replayed micro-batch that
    * re-appended would duplicate postings/lens rows AND double-count
    * the n_docs/total_dl deltas, silently skewing every future score.
    *
    * Replay therefore runs REPAIR-THEN-APPEND when the append marker is
    * missing (the prior attempt may have crashed mid-append):
    * [[graft.functions.Retrieval.repairBm25Append]] nets out whatever
    * fraction of the batch landed — table by table, since a crash can
    * leave any prefix of the postings → lens → meta write sequence; a
    * no-op when nothing did — and then recounts the meta statistics
    * from `lens/`, so the batch's rows AND its statistics end up in the
    * index exactly once (round 13: r12's delete-only repair converted a
    * potential overcount into an undercount until the nightly
    * compaction; the recount now rides the repair itself).
    */
  def bm25IndexStream(
      events: DataFrame, indexPath: String, idCol: String, textCol: String,
      checkpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery = {
    val ckpt = resolvedCheckpoint(checkpointLocation, "graft-bm25-stream")
    events.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(bm25IndexBatch(batch, indexPath, manifestRoot(ckpt), batchId,
          idCol, textCol))
      }
      .start()
  }

  /** The per-micro-batch body of [[bm25IndexStream]] (exposed for the
    * same replay testability as [[probeBatch]]): the shared
    * manifest-committed protocol with `probe` = identity (every row is
    * indexed) and a REPLAY-REPAIR hook — the prior attempt may have
    * crashed mid-append, so before re-appending, the ids the COMMITTED
    * MANIFEST recorded (the only ids that can have landed — not the
    * re-delivered batch's, which a non-replayable source could have
    * drifted) are healed out of the index by
    * [[graft.functions.Retrieval.repairBm25Append]]: per-table landed
    * probes skip rewrites that have nothing to net out, absent dirs (a
    * fresh index whose first append never started) are "nothing
    * landed" rather than a crash loop, and the meta ledger is recounted
    * from `lens/` so statistics are exact before the re-append. */
  def bm25IndexBatch(batch: DataFrame, indexPath: String,
      manifestRoot: String, batchId: Long, idCol: String,
      textCol: String): DataFrame = {
    import graft.functions.Retrieval
    runBatch(batch, manifestRoot, batchId, idCol, appendSurvivors = true,
      probe = b => b,
      append = rows =>
        Retrieval.appendToBm25Index(rows, idCol, textCol, indexPath),
      repairOnReplay = Some { manifestIds =>
        Retrieval.repairBm25Append(
          manifestIds.sparkSession, indexPath, manifestIds)
      })
  }

  /** Drop manifests/markers of batches before `batchId - 1`: batch N
    * running means N-1 is the newest batch a restart could replay, so
    * everything older is dead weight — the dir stays O(1) instead of
    * growing with the stream's lifetime. */
  private def pruneManifests(fs: org.apache.hadoop.fs.FileSystem,
      manifestRoot: String, batchId: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(manifestRoot)
    if (!fs.exists(root)) return
    val Pat = "(manifest|appended)-(\\d+)".r
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case Pat(_, id) if id.toLong < batchId - 1 =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }
}
