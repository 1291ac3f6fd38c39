package graft.functions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-committed snapshot versioning ([[SnapshotDir]]) — the one
  * on-disk format of every persisted index and model table. What it must
  * buy (and what these tests pin): a reader pinned BEFORE an append or
  * compaction keeps materializing AFTER it, uncommitted data files are
  * invisible (crash-anywhere safety without a swap protocol), probe
  * results equal the direct operators across the whole lifecycle, a
  * delete leaves no deleted row on disk, and gc reclaims everything no
  * kept version references.
  */
class SnapshotDirSpec extends AnyFunSuite {
  import graft.TestSpark.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("versioned lifecycle: append/rewrite commit new versions; a " +
      "pinned pre-compaction reader survives the compaction") {
    val dir = tmp("graft-snap") + "/t"
    Dedup.saveParquet((0L until 50L).toDF("id").repartition(2), dir)
    // v1 pins the two saved files
    val v1 = Dedup.snapshotFiles(spark, dir)
    assert(v1.size == 2)
    // append lands in a segment + new manifest; a fresh load sees it
    Dedup.appendParquet((50L until 60L).toDF("id"), dir)
    val afterAppend = spark.read
      .parquet(Dedup.snapshotFiles(spark, dir): _*)
      .collect().map(_.getLong(0)).toSet
    assert(afterAppend == (0L until 60L).toSet)
    // the headline: pin a reader, compact UNDER it, reader still works
    // (a compaction that swapped the directory in place would fail it
    // with FILE_NOT_EXIST)
    val pinned = spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*)
    Dedup.compactParquetDir(spark, dir, numFiles = 1)
    assert(pinned.count() == 60L,
      "a pre-compaction reader must keep materializing")
    val afterCompact = Dedup.snapshotFiles(spark, dir)
    assert(afterCompact.size == 1, s"compacted to one file: $afterCompact")
    assert(spark.read.parquet(afterCompact: _*).count() == 60L)
    // rewrite (the delete verb's shape) also versions
    Dedup.rewriteParquetDir(spark, dir, 1)(_.filter(col("id") < 10))
    assert(spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*)
      .count() == 10L)
  }

  test("uncommitted segment files are invisible — crash between data " +
      "write and manifest commit loses nothing and breaks nothing") {
    val dir = tmp("graft-snap") + "/t"
    Dedup.saveParquet((0L until 20L).toDF("id"), dir)
    // simulate the crash: a segment written WITHOUT its manifest commit
    (100L until 110L).toDF("id")
      .write.mode("overwrite").parquet(s"$dir/seg-orphan")
    val seen = spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*)
      .collect().map(_.getLong(0)).toSet
    assert(seen == (0L until 20L).toSet,
      "uncommitted segments must be invisible to readers")
    // and gc reclaims the orphan
    SnapshotDir.gc(spark, dir, keepVersions = 1)
    assert(!fs.exists(new Path(s"$dir/seg-orphan")),
      "gc must reclaim uncommitted segments")
    assert(spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*)
      .count() == 20L)
  }

  test("gc keeps the newest versions and deletes expired files") {
    val dir = tmp("graft-snap") + "/t"
    Dedup.saveParquet((0L until 10L).toDF("id").coalesce(1), dir)    // v1
    Dedup.appendParquet((10L until 20L).toDF("id").coalesce(1), dir) // v2
    Dedup.compactParquetDir(spark, dir, 1)                           // v3
    // three manifests; the original root file + v2 segment are now only
    // referenced by expired versions
    SnapshotDir.gc(spark, dir, keepVersions = 1)
    val manifests = fs.listStatus(new Path(s"$dir/_manifests"))
      .map(_.getPath.getName).filter(_.endsWith(".list"))
    assert(manifests.length == 1, manifests.mkString(","))
    val files = Dedup.snapshotFiles(spark, dir)
    assert(files.size == 1)
    assert(spark.read.parquet(files: _*).count() == 20L)
    // nothing outside the kept version's segment remains on disk
    val rootParquet = fs.listStatus(new Path(dir))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(rootParquet.isEmpty, "expired root files must be reclaimed")
  }

  test("a BM25 index probes identically through the whole lifecycle, " +
      "and a reader pinned after the delete survives the compaction") {
    import graft.functions.{Retrieval, TextAnalysis}
    val corpus = Seq(
      (1L, "spark query engine runs a table scan over the table"),
      (2L, "the query planner rewrites every query against the table"),
      (3L, "storage formats and compression for columnar data"),
      (4L, "spark spark spark nothing else here")).toDF("doc_id", "text")
    val batch = Seq(
      (6L, "query the spark table twice"),
      (7L, "unrelated prose about forests")).toDF("doc_id", "text")
    val terms = Seq("table", "query", "spark")
    val dir = tmp("graft-snap-bm25")
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir)
    Retrieval.appendToBm25Index(batch, "doc_id", "text", dir)
    def probe() = Retrieval.bm25Probe(
      Retrieval.loadBm25Index(spark, dir), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def direct(docs: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25(docs, "doc_id", "text", terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe() == direct(corpus.unionByName(batch)))
    // the delete expires every older version (its rows must leave the
    // disk), so the reader is pinned AFTER it; compact under that reader
    Retrieval.deleteFromBm25Index(spark, dir,
      Seq(2L).toDF("doc_id"), numFiles = 1)
    val pinnedIdx = Retrieval.loadBm25Index(spark, dir)
    Retrieval.compactBm25Index(spark, dir, numFiles = 1)
    assert(probe() == direct(corpus.unionByName(batch)
      .filter(col("doc_id") =!= 2L)))
    // the pinned snapshot still materializes its OWN version's rows
    assert(pinnedIdx.lens.count() == 5L,
      "a reader pinned before the compaction must survive it")
  }

  test("time travel: any committed version reads back exactly, until " +
      "gc expires it") {
    val dir = tmp("graft-snap") + "/t"
    Dedup.saveParquet((0L until 10L).toDF("id").coalesce(1), dir)    // v1
    Dedup.appendParquet((10L until 20L).toDF("id").coalesce(1), dir) // v2
    Dedup.rewriteParquetDir(spark, dir, 1)(_.filter(col("id") < 5)) // v3
    assert(SnapshotDir.versions(spark, dir) == Seq(1L, 2L, 3L))
    def readAt(v: Long) = spark.read
      .parquet(SnapshotDir.filesAt(spark, dir, v): _*)
      .collect().map(_.getLong(0)).toSet
    assert(readAt(1L) == (0L until 10L).toSet)
    assert(readAt(2L) == (0L until 20L).toSet)
    assert(readAt(3L) == (0L until 5L).toSet)
    SnapshotDir.gc(spark, dir, keepVersions = 2)
    assert(readAt(2L) == (0L until 20L).toSet,
      "a retained version must survive gc")
    val e = intercept[IllegalArgumentException] { readAt(1L) }
    assert(e.getMessage.contains("expired"), e.getMessage)
  }

  test("gc sweeps stale staged manifests left by a crashed commit") {
    val dir = tmp("graft-snap") + "/t"
    Dedup.saveParquet((0L until 5L).toDF("id").coalesce(1), dir)
    // a commit that died between temp-write and rename leaves this
    val stale = new Path(s"$dir/_manifests/.tmp-v000000000099-dead")
    fs.create(stale, true).close()
    // invisible to readers (the name pattern excludes it) …
    assert(spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*)
      .count() == 5L)
    // … and reclaimed by gc, which nothing else would ever do
    SnapshotDir.gc(spark, dir, keepVersions = 1)
    assert(!fs.exists(stale), "gc must sweep stale .tmp-* manifests")
  }

  test("versioned-from-birth: empty v1 is append-first — a load before " +
      "the first append fails loudly by name, after it reads the batch") {
    val dir = tmp("graft-snap") + "/t"
    // the state an append onto an absent dir passes through (and stays
    // in if it crashes before its segment commits): an empty v1
    SnapshotDir.enable(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.snapshotFiles(spark, dir)
    }
    assert(e.getMessage.contains("append"), e.getMessage)
    // TIME TRAVEL hits the same wall: a pinned empty v1 has no parquet
    // schema source, so filesAt names the append-first state too instead
    // of the opaque zero-path schema-inference error
    val te = intercept[IllegalArgumentException] {
      SnapshotDir.filesAt(spark, dir, 1L)
    }
    assert(te.getMessage.contains("append"), te.getMessage)
    Dedup.appendParquet((0L until 5L).toDF("id").coalesce(1), dir)
    assert(spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*)
      .count() == 5L)
  }

  test("model registry: versioned model dirs give rollback — each save " +
      "commits a version, loadAt reproduces the old model exactly") {
    import graft.TestSpark.sf
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val dir = tmp("graft-kmm") + "/model"
    // v1: the day-0 model
    val m1 = Similarity.kmeansTrain(
      emb.filter(col("vec_id") < 100), "vec_id", "embedding",
      k = 4, sweeps = 2)
    Similarity.saveKmeansModel(spark, m1, dir)
    // v2: a retrain on different data REPLACES the model
    val m2 = Similarity.kmeansTrain(
      emb.filter(col("vec_id") >= 100), "vec_id", "embedding",
      k = 4, sweeps = 2)
    Similarity.saveKmeansModel(spark, m2, dir)
    assert(SnapshotDir.versions(spark, dir) == Seq(1L, 2L),
      "the first save commits v1, the retrain v2")
    val v1 = SnapshotDir.versions(spark, dir).head
    assert(Similarity.loadKmeansModel(spark, dir).map(_.toSeq).toSeq ==
      m2.map(_.toSeq).toSeq, "latest load must be the retrain")
    assert(Similarity.loadKmeansModelAt(spark, dir, v1)
      .map(_.toSeq).toSeq == m1.map(_.toSeq).toSeq,
      "loadAt(v1) must reproduce the day-0 model bit-for-bit")
    // the NB twin: both tables travel in lockstep
    val docs = graft.Tables.load(spark, sf, "documents")
    val nbDir = tmp("graft-nbm") + "/model"
    val nb1 = TextAnalysis.nbTrain(
      docs.filter(col("doc_id") < 150), "source", "text")
    TextAnalysis.saveNbModel(nb1, nbDir)
    TextAnalysis.saveNbModel(TextAnalysis.nbTrain(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
      "source", "text"), nbDir)
    val nv1 = SnapshotDir.versions(spark, s"$nbDir/priors").head
    val probe = docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
    val expected = TextAnalysis.nbClassify(
      probe, "doc_id", "text", nb1).orderBy("doc_id").collect().toSeq
    val replayed = TextAnalysis.nbClassify(probe, "doc_id", "text",
      TextAnalysis.loadNbModelAt(spark, nbDir, nv1))
      .orderBy("doc_id").collect().toSeq
    assert(replayed == expected,
      "classification under loadAt(v1) must equal the day-0 model's")
    // the CENTROID twin (round 16 — the last registry without a
    // rollback pin): train v1, retrain v2, classify under loadAt(v1)
    // must equal the day-0 model's output, latest load the retrain's
    val cDir = tmp("graft-cmm") + "/model"
    val c1 = Similarity.centroidTrain(
      emb.filter(col("vec_id") < 150), "embedding", "label")
    Similarity.saveCentroidModel(spark, c1, cDir)
    val c2 = Similarity.centroidTrain(
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 300),
      "embedding", "label")
    Similarity.saveCentroidModel(spark, c2, cDir)
    val cv1 = SnapshotDir.versions(spark, cDir).head
    val cProbe = emb.filter(col("vec_id") >= 300 && col("vec_id") < 330)
    def classify(m: Similarity.CentroidModel) =
      Similarity.centroidClassifyScored(
        cProbe, "vec_id", "embedding", m)
        .orderBy("vec_id").collect().toSeq
    assert(classify(Similarity.loadCentroidModelAt(spark, cDir, cv1))
      == classify(c1),
      "centroid classification under loadAt(v1) must equal day-0's")
    assert(classify(Similarity.loadCentroidModel(spark, cDir))
      == classify(c2),
      "latest centroid load must be the retrain")
  }

  test("gc retention is the one reader hazard: a DataFrame pinned to an " +
      "expired version fails on materialization — size keepVersions to " +
      "cover the longest reader") {
    val dir = tmp("graft-snap") + "/t"
    Dedup.saveParquet((0L until 10L).toDF("id").coalesce(1), dir)    // v1
    val pinnedV1 = spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*)
    Dedup.rewriteParquetDir(spark, dir, 1)(_.filter(col("id") < 3)) // v2
    assert(pinnedV1.count() == 10L,
      "within retention the pinned reader still materializes")
    SnapshotDir.gc(spark, dir, keepVersions = 1)
    // past retention the pinned reader's files are gone — the failure is
    // a deterministic read error at materialization (the documented gc
    // contract), not silent partial data
    val e = intercept[Exception] { pinnedV1.count() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(c.getMessage).contains("does not exist") ||
        String.valueOf(c.getMessage).contains("FILE_NOT_EXIST")),
      s"expected a file-not-found failure, got: $e")
    // time travel to the expired version names the expiry, not a crash
    val tt = intercept[IllegalArgumentException] {
      SnapshotDir.filesAt(spark, dir, 1L)
    }
    assert(tt.getMessage.contains("expired"), tt.getMessage)
  }

  test("each family's save versions the tables its appends write") {
    // each family: save, append one batch, then every data table the
    // append writes must hold exactly the save's v1 and the append's v2,
    // and the loaded probe must equal the direct in-memory operator over
    // corpus + batch (a table the save left unversioned would fail the
    // append or drop the appended rows)
    def versioned(dirs: String*): Unit = dirs.foreach(d =>
      assert(SnapshotDir.versions(spark, d) == Seq(1L, 2L), d))
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val batch = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")

    // MinHash
    val mh = Dedup.minhashIndex(docs, "doc_id", "text", 3, 16, 4)
    val mhDir = tmp("sv-mh")
    Dedup.saveMinhashIndex(mh, mhDir)
    Dedup.appendToMinhashIndex(spark, mhDir, batch, "doc_id", "text")
    versioned(s"$mhDir/sets", s"$mhDir/buckets")
    def mhProbe(i: Dedup.MinhashIndex) = Dedup.incrementalMinhashDedup(
      Seq((9L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text"), i, "doc_id", "text", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(mhProbe(Dedup.loadMinhashIndex(spark, mhDir)) ==
      mhProbe(Dedup.appendToIndex(mh, batch, "doc_id", "text")))

    // Hamming
    val hashes = Seq((1L, 0L), (2L, -1L)).toDF("doc_id", "h")
    val hBatch = Seq((3L, 3L)).toDF("doc_id", "h")
    val hmDir = tmp("sv-hm")
    Dedup.saveHammingIndex(Dedup.hammingIndex(hashes, "doc_id", "h"), hmDir)
    Dedup.appendToHammingIndex(spark, hmDir, hBatch, "doc_id", "h")
    versioned(s"$hmDir/buckets")
    def hmProbe(i: Dedup.HammingIndex) = Dedup.incrementalHammingDedup(
      Seq((9L, 2L)).toDF("doc_id", "h"), i, "doc_id", "h", maxDist = 2)
      .collect().map(_.getLong(0)).toSet
    assert(hmProbe(Dedup.loadHammingIndex(spark, hmDir)) == hmProbe(
      Dedup.hammingIndex(hashes.unionByName(hBatch), "doc_id", "h")))

    // IVF (nProbe = nCells: every cell is searched, so the probe is
    // exact whichever cells the vectors were assigned to)
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "emb")
    val vBatch = Seq((3L, Seq(0.9f, 0.1f))).toDF("vec_id", "emb")
    val ivDir = tmp("sv-iv")
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(vecs, "vec_id", "emb", nCells = 2), ivDir)
    Similarity.appendToIvfIndex(spark, ivDir, vBatch, "vec_id", "emb")
    versioned(s"$ivDir/cells")
    def ivProbe(i: Similarity.IvfIndex) = Similarity.incrementalSemDedup(
      Seq((9L, Seq(0.95f, 0.05f))).toDF("vec_id", "emb"), i,
      "vec_id", "emb", threshold = 0.9, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    val ivAppended = ivProbe(Similarity.loadIvfIndex(spark, ivDir))
    assert(ivAppended == ivProbe(
      Similarity.ivfIndex(vecs.unionByName(vBatch), "vec_id", "emb",
        nCells = 2)))
    // compaction commits v3 as one file and serves the same probe
    Similarity.compactIvfIndex(spark, ivDir, numFiles = 1)
    assert(SnapshotDir.versions(spark, s"$ivDir/cells") == Seq(1L, 2L, 3L))
    assert(Dedup.snapshotFiles(spark, s"$ivDir/cells").size == 1)
    assert(ivProbe(Similarity.loadIvfIndex(spark, ivDir)) == ivAppended)

    // PQ and IVF-PQ: the batch encodes under the frozen stored books
    // (and, for IVF-PQ, takes its nearest stored centroid's cell)
    import graft.TestSpark.sf
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val corpus = emb.filter(col("vec_id") < 100)
    val eBatch = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    val queries = emb.filter(col("vec_id") < 3)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val pq = Similarity.pqIndex(corpus, "vec_id", "embedding")
    val pqDir = tmp("sv-pq")
    Similarity.savePqIndex(pq, pqDir)
    Similarity.appendToPqIndex(spark, pqDir, eBatch, "vec_id", "embedding")
    versioned(s"$pqDir/codes")
    assert(ranks(Similarity.pqTopK(queries,
      Similarity.loadPqIndex(spark, pqDir), "vec_id", "embedding", 10)) ==
      ranks(Similarity.pqTopK(queries, Similarity.PqIndex(
        pq.codes.unionByName(Similarity.pqEncodeWith(
          eBatch, "vec_id", "embedding", pq.books)), pq.books),
        "vec_id", "embedding", 10)))
    val ivpq = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
      nCells = 4)
    val ivpqDir = tmp("sv-ivpq")
    Similarity.saveIvfPqIndex(ivpq, ivpqDir)
    Similarity.appendToIvfPqIndex(spark, ivpqDir, eBatch,
      "vec_id", "embedding")
    versioned(s"$ivpqDir/cellcodes")
    val batchRows = eBatch
      .select(col("vec_id").as("neighbor_id"),
        element_at(Similarity.nearestCells(col("embedding"),
          ivpq.centroids, 1), 1).as("__cell"))
      .join(Similarity.pqEncodeWith(eBatch, "vec_id", "embedding",
        ivpq.books), "neighbor_id")
    assert(ranks(Similarity.ivfPqTopK(queries,
      Similarity.loadIvfPqIndex(spark, ivpqDir), "vec_id", "embedding",
      10, nProbe = 2)) ==
      ranks(Similarity.ivfPqTopK(queries,
        ivpq.copy(cellCodes = ivpq.cellCodes.unionByName(batchRows)),
        "vec_id", "embedding", 10, nProbe = 2)))

    // BM25: all three tables, the meta delta ledger included
    val terms = Seq("alpha", "eta")
    val bmDir = tmp("sv-bm")
    Retrieval.saveBm25Index(docs, "doc_id", "text", bmDir)
    Retrieval.appendToBm25Index(batch, "doc_id", "text", bmDir)
    versioned(s"$bmDir/postings", s"$bmDir/lens", s"$bmDir/meta")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(scores(Retrieval.bm25Probe(
      Retrieval.loadBm25Index(spark, bmDir), terms, 10)) ==
      scores(TextAnalysis.bm25(docs.unionByName(batch), "doc_id", "text",
        terms, 10)))
  }

  test("a table dir with no snapshot manifest fails loudly and names " +
      "SnapshotDir.enable, which upgrades it in place") {
    val dir = tmp("graft-snap") + "/t"
    (0L until 7L).toDF("id").coalesce(1).write.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.snapshotFiles(spark, dir)
    }
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("SnapshotDir.enable"), e.getMessage)
    // an index whose data table was written that way fails the same way
    val idx = tmp("graft-snap-mh")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text"), idx)
    fs.delete(new Path(s"$idx/buckets/_manifests"), true)
    val le = intercept[IllegalArgumentException] {
      Dedup.loadMinhashIndex(spark, idx)
    }
    assert(le.getMessage.contains("SnapshotDir.enable"), le.getMessage)
    SnapshotDir.enable(spark, dir)
    assert(SnapshotDir.versions(spark, dir) == Seq(1L))
    assert(spark.read.parquet(Dedup.snapshotFiles(spark, dir): _*)
      .count() == 7L)
  }

  test("delete crash between the sets and buckets rewrites leaves a " +
      "correct probe (stale band tuples are garbage, not answers)") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "red orange yellow green blue indigo violet"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val dir = tmp("graft-del-crash")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(corpus, "doc_id", "text"), dir)
    def probe() = Dedup.incrementalMinhashDedup(batch,
      Dedup.loadMinhashIndex(spark, dir), "doc_id", "text", threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(probe() == Set.empty[Long], "doc 10 suppressed by corpus doc 0")
    // simulate deleteFromMinhashIndex crashing after its sets/ commit:
    // only sets/ is rewritten, buckets/ keeps doc 0's band tuples
    Dedup.rewriteParquetDir(spark, s"$dir/sets", 1)(
      _.filter(col("__cid") =!= 0L))
    // the stale buckets row still yields a CANDIDATE, but the Jaccard
    // verify inner-joins sets/ — no sets row, no drop: the probe is
    // already correct after the sets commit (the documented ordering
    // contract); re-running the delete finishes the job
    assert(probe() == Set(10L),
      "probe must be correct with only sets/ rewritten")
    Dedup.deleteFromMinhashIndex(spark, dir, Seq(0L).toDF("doc_id"))
    assert(probe() == Set(10L))
    // after the re-run no file under either table holds doc 0
    for (t <- Seq("sets", "buckets"))
      assert(spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/$t")
        .filter(col("__cid") === 0L).count() == 0L, t)
  }
}
