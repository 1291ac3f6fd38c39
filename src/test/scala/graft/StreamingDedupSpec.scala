package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingDedup

final case class DedupDoc(ts: Timestamp, text: String)

/** Streaming exact dedup: duplicates inside the watermark horizon are
  * dropped; state is evicted past the horizon (the bound that keeps the
  * state store finite at ingest scale).
  */
class StreamingDedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("drops in-horizon duplicates, evicts state past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DedupDoc]
    val q = StreamingDedup.dedupStream(
      input.toDF(), "ts", "text", horizon = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        DedupDoc(t("2024-01-01 00:00:00"), "alpha"),
        DedupDoc(t("2024-01-01 00:10:00"), "beta"))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)

      // same content re-arrives inside the horizon → dropped; a far-future
      // row advances the watermark past alpha's expiry
      input.addData(
        DedupDoc(t("2024-01-01 00:20:00"), "alpha"),
        DedupDoc(t("2024-01-01 05:00:00"), "gamma"))
      q.processAllAvailable()
      val afterB2 = spark.table("dedup_out").as[DedupDoc].collect()
        .map(_.text).toSeq
      assert(afterB2.count(_ == "alpha") == 1, "in-horizon dup must drop")
      assert(afterB2.contains("gamma"))

      // alpha's hash state is older than the advanced watermark → evicted;
      // a late re-occurrence is treated as new (the batch compaction pass
      // owns cross-horizon dups)
      input.addData(DedupDoc(t("2024-01-01 06:00:00"), "alpha"))
      q.processAllAvailable()
      val afterB3 = spark.table("dedup_out").as[DedupDoc].collect()
        .map(_.text).toSeq
      assert(afterB3.count(_ == "alpha") == 2,
        "state must be evicted past the horizon")
    } finally q.stop()
  }

  test("streaming minhash probe appends survivors between micro-batches") {
    import graft.functions.Dedup
    implicit val sqlCtx = spark.sqlContext
    // persisted day-0 corpus index
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "red orange yellow green blue indigo violet"))
      .toDF("doc_id", "text")
    val dir = tmp("graft-stream-idx")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(corpus, "doc_id", "text"), dir)
    val ckpt = tmp("graft-stream-ckpt")
    val input = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingDedup.minhashDedupStream(
      input.toDF().toDF("doc_id", "text"), dir, "doc_id", "text",
      threshold = 0.8, checkpointLocation = Some(ckpt)) { surv =>
      seen ++= surv.collect().map(_.getLong(0)); ()
    }
    try {
      // micro-batch 1: a corpus dup (drops) + a fresh doc (survives,
      // appends)
      input.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta theta"),
        (11L, "one two three four five six seven eight"))
      q.processAllAvailable()
      assert(seen.toSet == Set(11L), s"batch-1 survivors: $seen")
      // micro-batch 2: a dup of batch-1's SURVIVOR must now drop (the
      // append is what makes it visible), a fresh doc survives
      input.addData(
        (20L, "one two three four five six seven eight"),
        (21L, "nine ten eleven twelve thirteen fourteen"))
      q.processAllAvailable()
      assert(seen.toSet == Set(11L, 21L),
        s"batch-2 must drop the dup of the appended survivor: $seen")
      // manifests live under the CHECKPOINT, scoped to this lineage
      assert(new java.io.File(s"$ckpt/graft_batches").exists(),
        "manifests must live under the checkpoint dir")
    } finally q.stop()
  }

  test("replayed micro-batch returns the same survivors, not self-dedup") {
    import graft.functions.Dedup
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val dir = tmp("graft-replay-idx")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(corpus, "doc_id", "text"), dir)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // corpus dup
      (11L, "one two three four five six seven eight"))       // survivor
      .toDF("doc_id", "text")
    val manifests = tmp("graft-replay-ckpt") + "/graft_batches"
    def run(root: String) = StreamingDedup.probeBatch(
      batch, dir, root, batchId = 7L, "doc_id", "text",
      threshold = 0.8, appendSurvivors = true)
      .collect().map(_.getLong(0)).toSet
    assert(run(manifests) == Set(11L))
    // Structured Streaming re-executes a micro-batch after a crash
    // before commit: the index now holds doc 11's own rows, so a naive
    // re-probe would self-dedup it away and the retry would emit NOTHING
    // for a doc the pipeline never delivered. The manifest replay path
    // must return the identical survivor set.
    assert(run(manifests) == Set(11L),
      "a replayed batch must re-emit its committed survivors")
    // and the replay did not double the appended index rows (the append
    // marker short-circuits the second append)
    val setRows = TestSpark.spark.read.parquet(graft.functions.Dedup
      .snapshotFiles(TestSpark.spark, s"$dir/sets"): _*)
      .where(org.apache.spark.sql.functions.col("__cid") === 11L).count()
    assert(setRows == 1L, s"survivor appended exactly once: $setRows")
    // A FRESH run (new checkpoint lineage → new manifest root) with the
    // same batchId must NOT take the replay path — the r11 layout keyed
    // manifests under the index, so a restarted query with reset
    // batchIds silently replayed a stale manifest. Here the fresh run
    // re-probes: doc 11 is now IN the index, so dropping the whole batch
    // is the correct cross-run dedup answer (and proves no stale replay).
    val fresh = tmp("graft-replay-ckpt2") + "/graft_batches"
    assert(run(fresh) == Set.empty,
      "a fresh lineage must re-probe, never replay a stale manifest")
  }

  test("streaming hamming probe: media ingest with replay safety") {
    import graft.functions.Dedup
    implicit val sqlCtx = spark.sqlContext
    // persisted day-0 fingerprint index (e.g. image dHashes)
    val corpus = Seq((0L, 0x00000000000000FFL), (1L, 0x7700000000000000L))
      .toDF("img_id", "fp")
    val dir = tmp("graft-hm-idx")
    Dedup.saveHammingIndex(Dedup.hammingIndex(corpus, "img_id", "fp"), dir)
    val ckpt = tmp("graft-hm-ckpt")
    val input = MemoryStream[(Long, Long)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingDedup.hammingDedupStream(
      input.toDF().toDF("img_id", "fp"), dir, "img_id", "fp",
      maxDist = 3, checkpointLocation = Some(ckpt)) { surv =>
      seen ++= surv.collect().map(_.getLong(0)); ()
    }
    try {
      // batch 1: a near-dup of corpus 0 (dist 1 → drops) + a fresh
      // fingerprint (survives, appends)
      input.addData((10L, 0x00000000000000FEL), (11L, 0x0F0F0F0F0F0F0F0FL))
      q.processAllAvailable()
      assert(seen.toSet == Set(11L), s"batch-1 survivors: $seen")
      // batch 2: near-dup of batch-1's appended SURVIVOR drops; fresh
      // fingerprint survives
      input.addData((20L, 0x0F0F0F0F0F0F0F0EL), (21L, 0x1111111111111111L))
      q.processAllAvailable()
      assert(seen.toSet == Set(11L, 21L),
        s"batch-2 must drop the near-dup of the appended survivor: $seen")
    } finally q.stop()
    // replay: same manifest root + batchId re-emits committed survivors
    val batch = Seq((30L, 0x00000000000000FDL), // dist 2 of corpus 0 → drop
      (31L, 0x5A5A5A5A5A5A5A5AL))               // fresh → survive
      .toDF("img_id", "fp")
    val root = s"$ckpt/graft_batches"
    def run() = StreamingDedup.probeHammingBatch(
      batch, dir, root, batchId = 9L, "img_id", "fp",
      maxDist = 3, appendSurvivors = true)
      .collect().map(_.getLong(0)).toSet
    assert(run() == Set(31L))
    assert(run() == Set(31L),
      "a replayed media batch must re-emit its committed survivors")
    val bucketRows = TestSpark.spark.read.parquet(graft.functions.Dedup
      .snapshotFiles(TestSpark.spark, s"$dir/buckets"): _*)
      .where(org.apache.spark.sql.functions.col("__ch") === 0x5A5A5A5A5A5A5A5AL)
      .count()
    assert(bucketRows == 8L, s"survivor banded exactly once (8 bands): " +
      s"$bucketRows")
  }

  test("streaming semantic probe: embedding ingest with replay safety") {
    import graft.functions.Similarity
    implicit val sqlCtx = spark.sqlContext
    // persisted day-0 embedding index
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "emb")
    val dir = tmp("graft-sd-idx")
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(corpus, "vec_id", "emb", nCells = 2), dir)
    val ckpt = tmp("graft-sd-ckpt")
    val input = MemoryStream[(Long, Seq[Float])]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingDedup.semDedupStream(
      input.toDF().toDF("vec_id", "emb"), dir, "vec_id", "emb",
      threshold = 0.9, checkpointLocation = Some(ckpt)) { surv =>
      seen ++= surv.collect().map(_.getLong(0)); ()
    }
    try {
      // batch 1: near corpus 0 (drops) + orthogonal (survives, appends)
      input.addData((10L, Seq(0.99f, 0.01f, 0f, 0f)),
        (11L, Seq(0f, 0f, 1f, 0f)))
      q.processAllAvailable()
      assert(seen.toSet == Set(11L), s"batch-1 survivors: $seen")
      // batch 2: near batch-1's appended SURVIVOR drops; fresh survives
      input.addData((20L, Seq(0f, 0.01f, 0.99f, 0f)),
        (21L, Seq(0f, 0f, 0f, 1f)))
      q.processAllAvailable()
      assert(seen.toSet == Set(11L, 21L),
        s"batch-2 must drop the near-dup of the appended survivor: $seen")
    } finally q.stop()
    // replay: same manifest root + batchId re-emits committed survivors
    // (a re-probe would find 30's own appended vector and self-dedup it)
    val batch = Seq((30L, Seq(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "emb")
    val root = s"$ckpt/graft_batches"
    def run() = StreamingDedup.probeSemBatch(
      batch, dir, root, batchId = 9L, "vec_id", "emb",
      threshold = 0.9, nProbe = 2, appendSurvivors = true)
      .collect().map(_.getLong(0)).toSet
    assert(run() == Set(30L))
    assert(run() == Set(30L),
      "a replayed embedding batch must re-emit its committed survivors")
    val cellRows = TestSpark.spark.read.parquet(graft.functions.Dedup
      .snapshotFiles(TestSpark.spark, s"$dir/cells"): _*)
      .where(org.apache.spark.sql.functions.col("neighbor_id") === 30L)
      .count()
    assert(cellRows == 1L, s"survivor appended exactly once: $cellRows")
  }

  test("manifests older than the previous batch are pruned") {
    import graft.functions.Dedup
    val corpus = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val dir = tmp("graft-prune-idx")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(corpus, "doc_id", "text"), dir)
    val root = tmp("graft-prune-ckpt") + "/graft_batches"
    def run(id: Long, docId: Long) = StreamingDedup.probeBatch(
      Seq((docId, s"fresh words number $docId only here")).toDF("doc_id", "text"),
      dir, root, id, "doc_id", "text",
      threshold = 0.8, appendSurvivors = true).collect()
    (0L to 4L).foreach(i => run(i, 100L + i))
    // ignore the local filesystem's .crc checksum sidecars
    val names = new java.io.File(root).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(names == Set("manifest-3", "manifest-4",
      "appended-3", "appended-4"),
      s"only the current and previous batch may remain: $names")
  }

  test("streaming bm25 indexing: replay appends exactly once, even after " +
      "a crash mid-append") {
    import graft.functions.{Retrieval, TextAnalysis}
    val spark = TestSpark.spark
    val b0 = Seq((1L, "spark query engine over a table"),
      (2L, "the query planner and the table")).toDF("doc_id", "text")
    val b1 = Seq((3L, "spark spark spark"),
      (4L, "storage formats for columnar data")).toDF("doc_id", "text")
    val dir = tmp("graft-bm25-stream-idx")
    Retrieval.saveBm25Index(b0, "doc_id", "text", dir)
    val root = tmp("graft-bm25-stream-ckpt") + "/graft_batches"
    def runB1() = StreamingDedup.bm25IndexBatch(
      b1, dir, root, batchId = 3L, "doc_id", "text")
    runB1()
    // clean replay (marker present): append short-circuits
    runB1()
    val terms = Seq("spark", "table", "query")
    def probe() = Retrieval.bm25Probe(
      Retrieval.loadBm25Index(spark, dir), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = TextAnalysis.bm25(b0.unionByName(b1), "doc_id", "text",
      terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe() == want, "clean replay must leave the index exact")
    // crash-simulating replay: the append landed but the marker did not
    // (delete the marker) — the replay must DELETE-then-append so the
    // batch's rows and statistics land exactly once, not twice
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/appended-3"), false)
    runB1()
    assert(probe() == want,
      "a mid-append replay must not double-count the batch")
    assert(spark.read
      .parquet(graft.functions.Dedup.snapshotFiles(spark, s"$dir/lens"): _*)
      .where(org.apache.spark.sql.functions.col("doc_id") === 3L)
      .count() == 1L, "exactly one lens row per replayed doc")
    // crash BEFORE the append (manifest committed, nothing landed): the
    // replay must detect that no manifest id reached the index and
    // append exactly once without paying the repair rewrites
    val b2 = Seq((5L, "a second batch about query planners"))
      .toDF("doc_id", "text")
    b2.select("doc_id").write.mode("overwrite")
      .parquet(s"$root/manifest-4")
    StreamingDedup.bm25IndexBatch(b2, dir, root, batchId = 4L,
      "doc_id", "text")
    val want2 = TextAnalysis.bm25(
      b0.unionByName(b1).unionByName(b2), "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe() == want2,
      "a crash-before-append replay must index the batch exactly once")
  }

  test("streaming bm25 indexing onto a SNAPSHOT-VERSIONED index: " +
      "appends, replay repair, and compaction all commit manifests") {
    import graft.functions.{Retrieval, SnapshotDir, TextAnalysis}
    val spark = TestSpark.spark
    val b0 = Seq((1L, "spark query engine over a table"),
      (2L, "the query planner and the table")).toDF("doc_id", "text")
    val b1 = Seq((3L, "spark spark spark"),
      (4L, "storage formats for columnar data")).toDF("doc_id", "text")
    val dir = tmp("graft-bm25-vstream-idx")
    Retrieval.saveBm25Index(b0, "doc_id", "text", dir)
    val root = tmp("graft-bm25-vstream-ckpt") + "/graft_batches"
    def runB1() = StreamingDedup.bm25IndexBatch(
      b1, dir, root, batchId = 3L, "doc_id", "text")
    runB1()
    val terms = Seq("spark", "table", "query")
    def probe() = Retrieval.bm25Probe(
      Retrieval.loadBm25Index(spark, dir), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = TextAnalysis.bm25(b0.unionByName(b1), "doc_id", "text",
      terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe() == want)
    // crash-simulating replay (marker lost): the repair's landed probe,
    // delete rewrites, and meta recount all commit snapshot versions —
    // the batch still lands exactly once
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/appended-3"), false)
    runB1()
    assert(probe() == want,
      "a mid-append replay must not double-count")
    assert(spark.read
      .parquet(graft.functions.Dedup.snapshotFiles(spark, s"$dir/lens"): _*)
      .where(org.apache.spark.sql.functions.col("doc_id") === 3L)
      .count() == 1L)
    // compaction mid-stream needs no quiesce: a pinned pre-compaction
    // load keeps materializing afterwards
    val pinned = Retrieval.loadBm25Index(spark, dir)
    Retrieval.compactBm25Index(spark, dir, numFiles = 1)
    assert(pinned.lens.count() == 4L,
      "a pinned reader must survive mid-stream compaction")
    assert(probe() == want)
    SnapshotDir.gc(spark, s"$dir/lens", keepVersions = 1)
    assert(probe() == want, "gc must not disturb the newest version")
    // retention DELETE between micro-batches, probe BEFORE any
    // compaction: the delete's negative meta delta must be
    // manifest-committed (it flows through the append chokepoint), so
    // the very next load scores with post-delete n_docs/total_dl — the
    // round-13 bug wrote the delta as an uncommitted orphan and this
    // probe scored with stale statistics
    Retrieval.deleteFromBm25Index(spark, dir,
      Seq(2L).toDF("doc_id"), numFiles = 1)
    val wantPostDelete = TextAnalysis.bm25(
      b0.unionByName(b1).where(
        org.apache.spark.sql.functions.col("doc_id") =!= 2L),
      "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe() == wantPostDelete,
      "a delete's statistics must be visible before compaction")
  }

  test("semantic stream: a retention DELETE between micro-batches " +
      "propagates into the next probe") {
    import graft.functions.Similarity
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "emb")
    val dir = tmp("graft-sd-del-idx")
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(corpus, "vec_id", "emb", nCells = 2), dir)
    val ckpt = tmp("graft-sd-del-ckpt")
    val input = MemoryStream[(Long, Seq[Float])]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingDedup.semDedupStream(
      input.toDF().toDF("vec_id", "emb"), dir, "vec_id", "emb",
      threshold = 0.9, checkpointLocation = Some(ckpt)) { surv =>
      seen ++= surv.collect().map(_.getLong(0)); ()
    }
    try {
      // batch 1: near corpus vector 0 — suppressed as its near-dup
      input.addData((10L, Seq(0.99f, 0.01f, 0f, 0f)))
      q.processAllAvailable()
      assert(seen.isEmpty, s"batch 1 must drop: $seen")
      // retention delete BETWEEN micro-batches (the quiesce point the
      // maintenance contract names): vector 0 is taken down. Each
      // micro-batch loads the index fresh, so the next probe sees the
      // post-delete snapshot — the pipeline stops suppressing fresh
      // content as "a near dup of" a document that no longer exists.
      Similarity.deleteFromIvfIndex(
        spark, dir, Seq(0L).toDF("vec_id"), numFiles = 2)
      input.addData((20L, Seq(0.98f, 0.02f, 0f, 0f)))
      q.processAllAvailable()
      assert(seen.toSet == Set(20L),
        s"post-delete batch must survive (its dup partner is gone): $seen")
      // and the appended survivor immediately guards batch 3
      input.addData((30L, Seq(0.97f, 0.03f, 0f, 0f)))
      q.processAllAvailable()
      assert(seen.toSet == Set(20L),
        s"batch 3 must drop against the appended survivor: $seen")
    } finally q.stop()
  }
}
