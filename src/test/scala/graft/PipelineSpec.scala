package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Dedup, Sampling, Similarity, TextAnalysis}
import graft.multimodal.Multimodal

/** Deterministic tests for the pipeline operators whose hashes make them
  * non-oracle-expressible: MinHash/LSH dedup recall on planted duplicates,
  * LSH-ANN recall vs brute force, SimHash locality, language-ID on
  * hand-labeled samples, multimodal plumbing shape.
  */
class PipelineSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while birds sing loudly above the trees"
    val nearDup = base.replace("runs far away", "sprints far off") // small edit
    val unrelated = "completely different content about database engines and " +
      "distributed query processing with columnar storage formats everywhere"
    val docs = Seq(
      (1L, base), (2L, nearDup), (3L, unrelated),
      (4L, "short text"), (5L, base + " extra trailing words here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
      n = 3, k = 64, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "planted near-dup must be found")
    assert(pairs.contains((1L, 5L)), "superset dup must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated must not pair")
  }

  test("minhash jaccard estimate agrees with exact ngram jaccard") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o q")).toDF("doc_id", "text")
    val got = Dedup.minhashDupPairs(docs, "doc_id", "text",
      n = 2, k = 64, rowsPerBand = 4, threshold = 0.1).collect()
    assert(got.length == 1)
    val j = got(0).getDouble(2)
    // exact 2-gram jaccard: 14 shared of 16 distinct shingles = 0.875
    assert(j > 0.8 && j <= 0.9)
  }

  test("simhash: similar docs close in hamming, dissimilar far") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val docs = Seq(
      (1L, "spark is a unified analytics engine for large scale data processing"),
      (2L, "spark is a unified analytics engine for very large data processing"),
      (3L, "cats meow dogs bark birds chirp fish swim horses gallop")
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      Dedup.simhash(TextAnalysis.tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hamming(got(1L), got(2L)) < hamming(got(1L), got(3L)))
    assert(hamming(got(1L), got(2L)) <= 16)
  }

  test("exact dedup groups identical texts") {
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((2L, 1L), (1L, 3L)))
  }

  test("line dedup keeps first occurrence corpus-wide, reassembles in order") {
    val docs = Seq(
      (1L, Seq("hello world", "unique one", "hello world")),
      (2L, Seq("hello world", "unique two")),
      (3L, Seq("hello world"))).toDF("doc_id", "lines")
    val r = Dedup.lineDedup(docs, "doc_id", col("lines"), sep = "\n")
      .orderBy("doc_id").collect()
    // doc1 keeps its idx-0 "hello world" and "unique one"; the idx-2
    // repeat loses to idx 0; docs 2/3 lose "hello world" to doc 1
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getLong(2),
      x.getLong(3))).toSeq == Seq(
      (1L, "hello world\nunique one", 2L, 3L),
      (2L, "unique two", 1L, 2L),
      (3L, "", 0L, 1L)))
  }

  test("bloom incremental dedup is output-identical to the exact form") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val index = Dedup.exactDupGroups(
      docs.filter(col("doc_id") < 250), "doc_id", "text").select("text_hash")
    val batch = docs.filter(col("doc_id") >= 250)
    val exact = Dedup.incrementalDedup(batch, index, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // tiny filter → high FP rate → the exact re-check branch does real work
    val bloom = Dedup.incrementalDedupBloom(batch, index, "doc_id", "text",
      expectedItems = 16L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom == exact)
    // bootstrap first run: EMPTY index → BloomFilterAggregate yields
    // NULL; every in-batch winner must survive (output-identical to the
    // exact form, which anti-joins against nothing)
    val emptyIndex = index.filter(lit(false))
    val exactBoot = Dedup.incrementalDedup(batch, emptyIndex,
      "doc_id", "text").select("doc_id").collect().map(_.getLong(0)).toSet
    val bloomBoot = Dedup.incrementalDedupBloom(batch, emptyIndex,
      "doc_id", "text").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloomBoot == exactBoot && bloomBoot.nonEmpty)
  }

  test("substring dedup removes repeated >=k-token runs, keeps first") {
    // k=3. doc1 wins everything (smallest id). doc2's "a b c d" is the
    // 2-shingle chain {a b c, b c d} at starts 1,2 → one merged span
    // [1,5). doc3 repeats "a b c" twice (cross-doc loser both times) →
    // two disjoint spans [0,3) and [4,7). doc4 is shorter than k.
    val docs = Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f")),
      (2L, Seq("x", "a", "b", "c", "d", "y")),
      (3L, Seq("a", "b", "c", "z", "a", "b", "c")),
      (4L, Seq("p", "q"))).toDF("doc_id", "toks")
    val r = Dedup.substringDedup(docs, "doc_id", col("toks"), 3)
      .orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
      x.getLong(3), x.getString(4))).toSeq == Seq(
      (1L, 6L, 0L, 0L, "a b c d e f"),
      (2L, 6L, 1L, 4L, "x y"),
      (3L, 7L, 2L, 6L, "z"),
      (4L, 2L, 0L, 0L, "p q")))
  }

  test("imageio decode: JPEG payloads decode with correct dimensions") {
    // the gates pin the lossless PNG path bit-exactly; this covers the
    // other JDK codec — JPEG is lossy, so assert structure (dims, pixel
    // count) and that channel sums land near the encoded ramp
    import graft.multimodal.Multimodal
    val img = new java.awt.image.BufferedImage(
      16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 16)
      img.setRGB(x, y, ((x * 16) << 16) | ((y * 20) << 8) | 128)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val media = Seq(Multimodal.MediaRow(
      7L, "image", bos.toByteArray, 16, 12, 0L)).toDS()
    val r = Multimodal.decodeImageStats(media).collect().head
    assert((r.width, r.height, r.n_pixels) == (16, 12, 192L))
    val exact = (for (y <- 0 until 12; x <- 0 until 16) yield x * 16L).sum
    assert(math.abs(r.sum_r - exact) < 192 * 16) // lossy but close
  }

  test("mjpeg split: true JPEG frame stream decodes per-frame") {
    import graft.multimodal.Multimodal
    // a REAL MJPEG payload: three JPEG-encoded ramp frames concatenated;
    // splitFrames must find the SOI…EOI boundaries and decode each (JPEG
    // is lossy, so assert structure exactly and channel sums near the
    // encoded ramp — the r8 JPEG-decode precedent)
    val bos = new java.io.ByteArrayOutputStream()
    val exact = Array.ofDim[Long](3)
    for (f <- 0 until 3) {
      val img = new java.awt.image.BufferedImage(
        16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16) {
        img.setRGB(x, y, ((x * 16) << 16) | ((y * 20) << 8) | (f * 60))
        exact(f) += x * 16L
      }
      javax.imageio.ImageIO.write(img, "jpg", bos)
    }
    val media = Seq(Multimodal.MediaRow(
      9L, "video", bos.toByteArray, 16, 12, 120L)).toDS()
    val r = Multimodal.decodeFrameStats(media)
      .orderBy("frame_idx").collect()
    assert(r.length == 3)
    r.zipWithIndex.foreach { case (fr, i) =>
      assert((fr.frame_idx, fr.width, fr.height, fr.n_pixels) ==
        (i, 16, 12, 192L))
      assert(math.abs(fr.sum_r - exact(i)) < 192 * 16, s"frame $i lossy drift")
    }
  }

  test("splitFrames handles mixed and mid-stream payloads") {
    import graft.multimodal.Multimodal
    def png(v: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, v)
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", b)
      b.toByteArray
    }
    def jpg(v: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, v)
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", b)
      b.toByteArray
    }
    // junk prefix (an AVI-ish header) + png + jpeg + png
    val junk = Array[Byte](0x52, 0x49, 0x46, 0x46, 0x00, 0x11, 0x22)
    val payload = junk ++ png(0x112233) ++ jpg(0x445566) ++ png(0x778899)
    val frames = Multimodal.splitFrames(payload)
    assert(frames.length == 3)
    frames.foreach { fb =>
      assert(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(fb)) != null)
    }
  }

  test("splitFrames is structural: end-marker bytes inside data don't split") {
    import graft.multimodal.Multimodal
    def enc(v: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, v)
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, b)
      b.toByteArray
    }
    // PNG with an unknown-ancillary chunk (type gfTx — ancillary +
    // private, safe for decoders to skip) whose DATA is the ASCII bytes
    // "IEND" — inserted right after the IHDR chunk (8-byte sig + 25-byte
    // IHDR). A byte-scan for "IEND" splits here; the chunk walk must not.
    val p = enc(0x0a0b0c, "png")
    def crc32(b: Array[Byte]): Int = {
      val c = new java.util.zip.CRC32(); c.update(b); c.getValue.toInt
    }
    val textData = "IEND".getBytes("US-ASCII")
    val chunkBody = "gfTx".getBytes("US-ASCII") ++ textData
    val trap = java.nio.ByteBuffer.allocate(12 + textData.length)
      .putInt(textData.length).put(chunkBody).putInt(crc32(chunkBody))
      .array()
    val pngTrap = p.slice(0, 33) ++ trap ++ p.slice(33, p.length)
    // JPEG with an APP1 segment whose data contains a raw FF D9 (the EXIF
    // thumbnail shape) — inserted right after SOI. A byte-scan for FF D9
    // ends the frame inside the segment; the marker walk skips it by
    // its declared length.
    val j = enc(0x405060, "jpg")
    val app1 = Array[Byte](0xff.toByte, 0xe1.toByte, 0x00, 0x06,
      0xff.toByte, 0xd9.toByte, 0x01, 0x02)
    val jpgTrap = j.slice(0, 2) ++ app1 ++ j.slice(2, j.length)
    val payload = pngTrap ++ jpgTrap ++ enc(0x112233, "png")
    val frames = Multimodal.splitFrames(payload)
    assert(frames.length == 3,
      s"expected 3 structural frames, got ${frames.length}")
    assert(frames(0).length == pngTrap.length &&
      frames(1).length == jpgTrap.length)
    frames.foreach { fb =>
      assert(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(fb)) != null,
        "every structurally split frame must decode")
    }
  }

  test("incremental minhash: prebuilt index path equals the inline path") {
    // the r10 review split minhashIndex out as a build-once API; the
    // per-ingest probe against the stored index must give the identical
    // survivor set to the corpus-DataFrame convenience overload
    val docs = TestSpark.spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val batch = docs.filter(col("doc_id") >= 250)
    val corpus = docs.filter(col("doc_id") < 250)
    val inline = Dedup.incrementalMinhashDedup(batch, corpus,
      "doc_id", "text", n = 3, k = 64, rowsPerBand = 4, threshold = 0.4)
      .collect().map(_.getLong(0)).toSet
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
    val viaIndex = Dedup.incrementalMinhashDedup(batch, idx,
      "doc_id", "text", n = 3, k = 64, rowsPerBand = 4, threshold = 0.4)
      .collect().map(_.getLong(0)).toSet
    assert(inline == viaIndex && inline.nonEmpty)
  }

  test("minhash index lifecycle: save/load/append, day-2 sees survivors") {
    val spark = TestSpark.spark
    import spark.implicits._
    val mk = (id: Long, t: String) => (id, t)
    val corpus = Seq(
      mk(0L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(1L, "red orange yellow green blue indigo violet"))
      .toDF("doc_id", "text")
    val day1 = Seq(
      mk(10L, "alpha beta gamma delta epsilon zeta eta theta"), // corpus dup
      mk(11L, "one two three four five six seven eight"))       // survivor
      .toDF("doc_id", "text")
    val day2 = Seq(
      mk(20L, "one two three four five six seven eight"), // dup of SURVIVOR 11
      mk(21L, "red orange yellow green blue indigo violet"), // corpus dup
      mk(22L, "nine ten eleven twelve thirteen fourteen"))    // unique
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idx-spec").toString
    Dedup.saveMinhashIndex(
      Dedup.minhashIndex(corpus, "doc_id", "text"), dir)
    val idx1 = Dedup.loadMinhashIndex(spark, dir)
    assert((idx1.n, idx1.k, idx1.rowsPerBand) == ((3, 64, 4)))
    val surv1 = Dedup.incrementalMinhashDedup(day1, idx1,
      "doc_id", "text", threshold = 0.8)
    assert(surv1.collect().map(_.getLong(0)).toSet == Set(11L),
      "day-1 corpus dup must drop, the unique doc must survive")
    Dedup.appendToMinhashIndex(spark, dir,
      day1.join(surv1, "doc_id"), "doc_id", "text")
    val surv2 = Dedup.incrementalMinhashDedup(day2,
      Dedup.loadMinhashIndex(spark, dir), "doc_id", "text", threshold = 0.8)
    assert(surv2.collect().map(_.getLong(0)).toSet == Set(22L),
      "day-2 must drop the dup of a day-1 SURVIVOR (20) and the corpus " +
        "dup (21), keep only the unique doc")
    // REGRESSION PIN: both probes in ONE query tree. InMemoryFileIndex
    // equality is rootPaths-only, so pre- and post-append scans of the
    // same directory canonicalize equal and exchange/AQE-stage reuse
    // serves the day-2 probe the PRE-append corpus stage — the loads pin
    // their file-set snapshot as distinct rootPaths to prevent exactly
    // this (silently kept 2 near-dups at sf0.01 before the fix)
    val union = surv1.withColumn("day", lit(1))
      .unionByName(surv2.withColumn("day", lit(2)))
      .collect().map(r => (r.getInt(1), r.getLong(0))).toSet
    assert(union == Set((1, 11L), (2, 22L)),
      s"one-tree union must see the appended index on day 2: $union")
    // the probe refuses parameters that differ from the build's
    intercept[IllegalArgumentException] {
      Dedup.incrementalMinhashDedup(day2, idx1, "doc_id", "text",
        n = 3, k = 128, rowsPerBand = 4, threshold = 0.8)
    }
    // COMPACTION: appends accumulate small files; compacting rewrites
    // each table to the requested file count and probe output is
    // unchanged
    def nFiles(d: String) = Dedup.snapshotFiles(spark, d).size
    assert(nFiles(s"$dir/sets") > 1, "append must have added files")
    Dedup.compactMinhashIndex(spark, dir, numFiles = 1)
    assert(nFiles(s"$dir/sets") == 1 && nFiles(s"$dir/buckets") == 1,
      "compaction must consolidate to the requested file count")
    val surv2c = Dedup.incrementalMinhashDedup(day2,
      Dedup.loadMinhashIndex(spark, dir), "doc_id", "text", threshold = 0.8)
    assert(surv2c.collect().map(_.getLong(0)).toSet == Set(22L),
      "the compacted index must probe identically")
  }

  test("hamming index lifecycle: save/load/append equals inline probe") {
    val spark = TestSpark.spark
    import spark.implicits._
    val corpus = Seq((0L, 0x00000000000000FFL), (1L, 0x7700000000000000L))
      .toDF("id", "h")
    val day1 = Seq(
      (10L, 0x00000000000000FEL), // dist 1 from corpus 0 -> drop
      (11L, 0x0F0F0F0F0F0F0F0FL)) // unique -> survive
      .toDF("id", "h")
    val day2 = Seq(
      (20L, 0x0F0F0F0F0F0F0F0EL), // dist 1 from SURVIVOR 11 -> drop
      (21L, 0x1111111111111111L)) // unique -> survive
      .toDF("id", "h")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-hidx-spec").toString
    Dedup.saveHammingIndex(Dedup.hammingIndex(corpus, "id", "h"), dir)
    val surv1 = Dedup.incrementalHammingDedup(day1,
      Dedup.loadHammingIndex(spark, dir), "id", "h", maxDist = 3)
    assert(surv1.collect().map(_.getLong(0)).toSet == Set(11L))
    Dedup.appendToHammingIndex(spark, dir, surv1, "id", "h")
    val surv2 = Dedup.incrementalHammingDedup(day2,
      Dedup.loadHammingIndex(spark, dir), "id", "h", maxDist = 3)
    assert(surv2.collect().map(_.getLong(0)).toSet == Set(21L),
      "day-2 must drop the near-dup of the appended day-1 survivor")
  }

  test("index delete: retention removes content and un-suppresses probes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "red orange yellow green blue indigo violet"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 0
      (11L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-del-idx").toString
    Dedup.saveMinhashIndex(Dedup.minhashIndex(corpus, "doc_id", "text"), dir)
    def probe() = Dedup.incrementalMinhashDedup(batch,
      Dedup.loadMinhashIndex(spark, dir), "doc_id", "text", threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(probe() == Set(11L), "doc 10 suppressed by corpus doc 0")
    Dedup.deleteFromMinhashIndex(spark, dir, Seq(0L).toDF("doc_id"))
    // the probe behaves as if doc 0 never existed...
    assert(probe() == Set(10L, 11L),
      "after deletion the suppressed doc must survive")
    // ...and the content is physically GONE from both tables
    // (read recursively: the rewritten files live in snapshot segment
    // subdirectories, and every file under the table dir must be clean)
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/sets")
      .filter(col("__cid") === 0L).count() == 0, "sets row must be gone")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/buckets")
      .filter(col("__cid") === 0L).count() == 0, "band tuples must be gone")
  }

  test("hamming + ivf + pq index deletes propagate") {
    import graft.functions.Similarity
    val spark = TestSpark.spark
    import spark.implicits._
    // Hamming: keyed by hash — deleting corpus 0's fingerprint
    // un-suppresses the batch near-dup
    val hc = Seq((0L, 0x00000000000000FFL), (1L, 0x7700000000000000L))
      .toDF("id", "h")
    val hb = Seq((10L, 0x00000000000000FEL)).toDF("id", "h")
    val hdir = java.nio.file.Files
      .createTempDirectory("graft-del-hidx").toString
    Dedup.saveHammingIndex(Dedup.hammingIndex(hc, "id", "h"), hdir)
    def hprobe() = Dedup.incrementalHammingDedup(hb,
      Dedup.loadHammingIndex(spark, hdir), "id", "h", maxDist = 3)
      .count()
    assert(hprobe() == 0L)
    Dedup.deleteFromHammingIndex(spark, hdir,
      Seq(0x00000000000000FFL).toDF("h"))
    assert(hprobe() == 1L, "deleted fingerprint must stop suppressing")
    // a delete expires the older versions: no file holds the hash
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$hdir/buckets")
      .filter(col("__ch") === 0x00000000000000FFL).count() == 0)
    // IVF: deleting the near corpus vector un-suppresses the batch one
    val vc = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("id", "vec")
    val vb = Seq((10L, Seq(0.99f, 0.01f, 0f, 0f))).toDF("id", "vec")
    val vdir = java.nio.file.Files
      .createTempDirectory("graft-del-vidx").toString
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(vc, "id", "vec", nCells = 2), vdir)
    def vprobe() = Similarity.incrementalSemDedup(vb,
      Similarity.loadIvfIndex(spark, vdir), "id", "vec",
      threshold = 0.9, nProbe = 2).count()
    assert(vprobe() == 0L)
    Similarity.deleteFromIvfIndex(spark, vdir, Seq(0L).toDF("id"))
    assert(vprobe() == 1L, "deleted vector must stop suppressing")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$vdir/cells")
      .filter(col("neighbor_id") === 0L).count() == 0)
    // PQ: deleted ids drop out of the ADC ranking
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 100)
    val pdir = java.nio.file.Files
      .createTempDirectory("graft-del-pidx").toString
    Similarity.savePqIndex(
      Similarity.pqIndex(corpus, "vec_id", "embedding"), pdir)
    Similarity.deleteFromPqIndex(spark, pdir,
      spark.range(50).toDF("vec_id"))
    val ranked = Similarity.pqTopK(emb.filter(col("vec_id") < 2),
      Similarity.loadPqIndex(spark, pdir), "vec_id", "embedding", 10)
      .collect().map(_.getLong(2))
    assert(ranked.nonEmpty && ranked.forall(_ >= 50),
      s"deleted codes must never rank: ${ranked.toSeq}")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$pdir/codes")
      .filter(col("neighbor_id") < 50).count() == 0)
    // IVF-PQ: the same per-vector rewrite and expiry on cellcodes/
    val ipdir = java.nio.file.Files
      .createTempDirectory("graft-del-ipidx").toString
    Similarity.saveIvfPqIndex(Similarity.ivfPqIndex(
      corpus, "vec_id", "embedding", nCells = 4), ipdir)
    Similarity.deleteFromIvfPqIndex(spark, ipdir,
      spark.range(50).toDF("vec_id"))
    val ipRanked = Similarity.ivfPqTopK(emb.filter(col("vec_id") < 2),
      Similarity.loadIvfPqIndex(spark, ipdir), "vec_id", "embedding", 10,
      nProbe = 4).collect().map(_.getLong(2))
    assert(ipRanked.nonEmpty && ipRanked.forall(_ >= 50),
      s"deleted codes must never rank: ${ipRanked.toSeq}")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$ipdir/cellcodes")
      .filter(col("neighbor_id") < 50).count() == 0)
  }

  test("residual ivfadc index lifecycle: self-describing flag, frozen-" +
      "model append") {
    import graft.functions.Similarity
    val spark = TestSpark.spark
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 300)
    val queries = emb.filter(col("vec_id") < 5)
    val inline = Similarity.ivfAdcTopK(queries, corpus,
      "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-radc-spec").toString
    Similarity.saveIvfPqIndex(
      Similarity.ivfAdcIndex(corpus, "vec_id", "embedding"), dir)
    val loadedIdx = Similarity.loadIvfPqIndex(spark, dir)
    assert(loadedIdx.residual, "the stored flag must round-trip")
    val loaded = Similarity.ivfPqTopK(queries, loadedIdx,
      "vec_id", "embedding", 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(inline == loaded && inline.nonEmpty,
      "loaded residual probe must equal the relearn form")
    // append encodes RESIDUALS under the frozen models: an appended
    // identical twin of a corpus vector must rank first for a query
    // equal to it (exact cell IP + its own residual code)
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 330)
    Similarity.appendToIvfPqIndex(spark, dir, batch, "vec_id", "embedding")
    val after = Similarity.loadIvfPqIndex(spark, dir)
    val probeQ = emb.filter(col("vec_id") === 310)
      .select((col("vec_id") + 90000).as("vec_id"), col("embedding"))
    val top = Similarity.ivfPqTopK(probeQ, after,
      "vec_id", "embedding", 1, nProbe = 1).collect()
    assert(top.length == 1 && top(0).getLong(2) == 310L,
      s"the appended twin must be the nearest neighbor: ${top.toSeq}")
  }

  test("refined rerank honors the residual flag: its pool is the " +
      "residual ranking") {
    import graft.functions.Similarity
    val spark = TestSpark.spark
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 300)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rref-spec").toString
    Similarity.saveIvfPqIndex(
      Similarity.ivfAdcIndex(corpus, "vec_id", "embedding"), dir)
    val idx = Similarity.loadIvfPqIndex(spark, dir)
    assert(idx.residual)
    val rerank = 20
    def idSets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // non-vacuity: on this index the residual and raw-ADC rankings must
    // actually disagree in the top-`rerank` — otherwise this test could
    // not catch a refined probe that ignored the flag
    val residualPool = idSets(Similarity.ivfPqTopK(queries, idx,
      "vec_id", "embedding", rerank, nProbe = 4))
    val rawPool = idSets(Similarity.ivfPqAdcTopK(idx.cellCodes,
      idx.centroids, idx.books, queries, "vec_id", "embedding",
      rerank, nProbe = 4))
    assert(residualPool != rawPool,
      "pick data where the rankings differ or the test is vacuous")
    // with k = rerank the refined output is exactly its pool, reranked —
    // so its id set must equal the RESIDUAL ranking's, not the raw one
    val refined = idSets(Similarity.ivfPqTopKRefined(queries, idx, corpus,
      "vec_id", "vec_id", "embedding", k = rerank, nProbe = 4,
      rerank = rerank))
    assert(refined == residualPool,
      "the refined pool must honor the stored residual flag")
  }

  test("normalizeForDedup: case/digits/punct/whitespace variants collapse") {
    import graft.functions.TextAnalysis
    val spark = TestSpark.spark
    import spark.implicits._
    val got = Seq(
      "Release 2.4 is OUT — download now!!",
      "release 9.7 is out,   download NOW",  // same after normalization
      "release is out download now",          // digits differ (none vs 0.0)
      "a genuinely different sentence")
      .toDF("text")
      .select(TextAnalysis.normalizeForDedup(col("text")).as("n"))
      .collect().map(_.getString(0))
    assert(got(0) == "release 00 is out download now", got(0))
    assert(got(0) == got(1), "variants must normalize identically")
    assert(got(2) == "release is out download now" && got(2) != got(0),
      "digit presence still distinguishes")
    assert(got(3) == "a genuinely different sentence")
  }

  test("hard negatives: no positive ever surfaces, null labels excludable") {
    import graft.functions.Similarity
    val spark = TestSpark.spark
    import spark.implicits._
    // anchor label 1; ids 10/11 share it (positives — must NEVER
    // surface no matter how similar), 20-22 differ, 30 has a NULL label
    // (unlabeled data is not a known negative — the null-propagating !=
    // excludes it, even though it is the most similar vector of all)
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val emb = Seq(
      (1L, v(1.0, 0.0), Some(1)),
      (10L, v(0.99, 0.14), Some(1)), (11L, v(0.98, 0.2), Some(1)),
      (20L, v(0.9, 0.44), Some(2)), (21L, v(0.5, 0.87), Some(2)),
      (22L, v(-1.0, 0.0), Some(3)), (30L, v(1.0, 0.01), None))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(
      emb.filter(col("vec_id") === 1L), emb,
      "vec_id", "vec_id", "embedding", "label", 10)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.sortBy(_._1).map(_._2).toSeq == Seq(20L, 21L, 22L),
      s"nearest different-label items in similarity order: ${got.toSeq}")
  }

  test("hard negatives from a persisted index == brute force at full " +
      "pool; positives stay excluded at tight pools") {
    import graft.functions.Similarity
    val spark = TestSpark.spark
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val anchors = emb.filter(col("vec_id") < 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-hn-spec").toString
    Similarity.saveIvfPqIndex(
      Similarity.ivfPqIndex(emb, "vec_id", "embedding"), dir)
    val idx = Similarity.loadIvfPqIndex(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // probing ALL cells with a corpus-sized pool removes the
    // approximation entirely: the ANN form must equal the brute-force
    // baseline bit-for-bit (same exact cosine, same tie-break)
    val n = emb.count().toInt
    val full = rows(Similarity.hardNegativesFromIndex(anchors, idx, emb,
      "vec_id", "vec_id", "embedding", "label",
      k = 5, nProbe = 16, rerank = n))
    val brute = rows(Similarity.hardNegatives(anchors, emb,
      "vec_id", "vec_id", "embedding", "label", 5))
    assert(full == brute,
      "full-pool ANN mining must equal the exact baseline")
    // at a tight production pool the label exclusion still holds: no
    // returned neighbor may share its anchor's label
    val tight = Similarity.hardNegativesFromIndex(anchors, idx, emb,
      "vec_id", "vec_id", "embedding", "label",
      k = 5, nProbe = 4, rerank = 30)
    val lbl = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    tight.collect().foreach { r =>
      assert(lbl(r.getLong(0)) != lbl(r.getLong(2)),
        s"positive leaked: anchor ${r.getLong(0)} → ${r.getLong(2)}")
    }
  }

  test("residual ivfadc: carrier exactness and tighter quantization") {
    import graft.functions.{Embeddings, Similarity}
    val spark = TestSpark.spark
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    // 1) the design-bearing invariant: the float residual carrier
    // (r/1e6).toFloat round-trips scaleLong back to exactly
    // r = sv − scaled(cent(cell)) — |r| < 2^24 makes the float exact
    val (assigned, cents) = Similarity.ivfAssign(emb, "vec_id", "embedding", 16)
    def scaleL(v: Float): Long =
      java.math.BigDecimal.valueOf(v.toDouble * Embeddings.Scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val scents = cents.map(_.map(scaleL))
    val bad = assigned.collect().count { r =>
      val sv = r.getSeq[Float](1).map(scaleL)
      val cell = r.getInt(2)
      sv.zipWithIndex.exists { case (s, j) =>
        val res = s - scents(cell)(j)
        val carrier = (res.toDouble / Embeddings.Scale).toFloat
        scaleL(carrier) != res
      }
    }
    assert(bad == 0, s"$bad rows break the residual float round-trip")
    // 2) residual quantization approximates the exact scaled IP at least
    // as tightly as the non-residual form, on the pairs both rank
    def exactIp(res: org.apache.spark.sql.DataFrame) = res
      .join(emb.select(col("vec_id").as("query_id"),
        Embeddings.scaledVec(col("embedding")).as("__qs")), "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"),
        Embeddings.scaledVec(col("embedding")).as("__ns")), "neighbor_id")
      .withColumn("__exact", aggregate(
        zip_with(col("__qs"), col("__ns"), (a, b) => a * b),
        lit(0L), (acc, v) => acc + v))
      .select(col("query_id"), col("neighbor_id"),
        abs(col("score_scaled") - col("__exact")).as("err"))
    val q5 = emb.filter(col("vec_id") < 5)
    val residErr = exactIp(Similarity.ivfAdcTopK(
      q5, emb, "vec_id", "vec_id", "embedding", 50))
      .agg(avg("err")).collect()(0).getDouble(0)
    val plainErr = exactIp(Similarity.ivfPqTopK(
      q5, emb, "vec_id", "vec_id", "embedding", 50))
      .agg(avg("err")).collect()(0).getDouble(0)
    assert(residErr < plainErr,
      s"residual ADC must quantize tighter: $residErr vs $plainErr")
  }

  test("kmeansAssign separates blobs, is partition-invariant, and " +
      "sweeps refine the seed assignment") {
    // two tight blobs around orthogonal axes — any reasonable k=2 run
    // must put each blob in one cluster
    val rows = (0 until 20).map { i =>
      val eps = (i % 5) * 0.01f
      if (i < 10) (i.toLong, Seq(1f, eps, 0f, 0f))
      else (i.toLong, Seq(eps, 1f, 0f, 0f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(emb, "vec_id", "embedding",
      k = 2, sweeps = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val blobA = (0L until 10L).map(got).toSet
    val blobB = (10L until 20L).map(got).toSet
    assert(blobA.size == 1 && blobB.size == 1 && blobA != blobB,
      s"each blob must land in its own cluster: $got")
    // partition-invariant: same assignment from a different layout
    val repart = Similarity.kmeansAssign(emb.repartition(7),
      "vec_id", "embedding", k = 2, sweeps = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(repart == got, "kmeans must be partition-invariant")
    // sweeps = 0 is the raw seed assignment; sweeps must be able to
    // move at least one boundary vector here (hash seeds are arbitrary
    // vectors, means are blob centers)
    val raw = Similarity.kmeansAssign(emb, "vec_id", "embedding",
      k = 2, sweeps = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(raw.keySet == got.keySet)
  }

  test("naive bayes: separable vocabularies classify perfectly, empty " +
      "docs take the prior, repartitioning changes nothing") {
    val train = Seq(
      ("spam", "buy cheap pills now buy buy discount"),
      ("spam", "cheap discount offer buy now"),
      ("spam", "discount pills offer offer"),
      ("ham", "meeting notes from the quarterly review"),
      ("ham", "please review the attached meeting agenda")).toDF(
      "label", "text")
    val model = TextAnalysis.nbTrain(train, "label", "text")
    val test = Seq(
      (1L, "cheap pills discount"),
      (2L, "quarterly meeting review agenda"),
      (3L, "buy now"),
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.nbClassify(test, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 4 (empty) takes the prior argmax: spam has 3 of 5 training docs
    assert(got == Map(1L -> "spam", 2L -> "ham", 3L -> "spam",
      4L -> "spam"), s"$got")
    val repart = TextAnalysis.nbClassify(
      test.repartition(5), "doc_id", "text",
      TextAnalysis.nbTrain(train.repartition(3), "label", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(repart == got, "NB must be partition-invariant")
    // scored form: same argmax, positive margin on confident docs, and
    // the filter keeps exactly the τ-clearing target-class survivors
    val scored = TextAnalysis.nbClassifyScored(
      test, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getDecimal(3).longValueExact()))).toMap
    assert(scored.view.mapValues(_._1).toMap == got,
      "nbClassifyScored must agree with nbClassify on the argmax")
    assert(scored.values.forall(_._2 > 0L),
      s"two-class margins are positive here: $scored")
    val spamMargins = scored.filter(_._2._1 == "spam").values.map(_._2)
    val tau = spamMargins.toSeq.sorted.apply(1) // keep the top 2 of 3
    val kept = TextAnalysis.nbFilter(
      test, "doc_id", "text", model, "spam", tau)
      .collect().map(_.getLong(0)).toSet
    assert(kept == scored.filter { case (_, (l, m)) =>
      l == "spam" && m >= tau }.keySet, s"$kept")
    // the per-pair analysis frame (now expansion-free — one explode of
    // the scored array) covers the full doc × class grid and its argmax
    // agrees with the classifier
    val pairs = TextAnalysis.nbScore(test, "doc_id", "text", model)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        r.getDecimal(2).longValueExact()).toMap
    assert(pairs.size == 4 * 2, s"full grid: ${pairs.size}")
    got.foreach { case (id, lab) =>
      val best = pairs.collect { case ((i, l), s) if i == id => (l, s) }
        .toSeq.minBy { case (l, s) => (-s, l) }._1
      assert(best == lab, s"nbScore argmax must agree for doc $id")
    }
    // single-class model: no runner-up, margin is null
    val oneClass = TextAnalysis.nbTrain(
      train.filter(col("label") === "spam"), "label", "text")
    val m1 = TextAnalysis.nbClassifyScored(
      test, "doc_id", "text", oneClass).collect()
    assert(m1.forall(_.isNullAt(3)),
      "single-class margin must be null")
  }

  test("kmeansObjective: sweeps tighten the objective, counts cover the " +
      "corpus, and it is partition-invariant") {
    val rows = (0 until 20).map { i =>
      val eps = (i % 5) * 0.01f
      if (i < 10) (i.toLong, Seq(1f, eps, 0f, 0f))
      else (i.toLong, Seq(eps, 1f, 0f, 0f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    def obj(sweeps: Int) = Similarity.kmeansObjective(emb, "embedding",
      Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 2, sweeps))
      .collect().map(r => (r.getInt(0),
        (r.getLong(1), r.getDecimal(2).longValueExact())))
    val refined = obj(3)
    assert(refined.map(_._2._1).sum == 20L, s"counts cover: $refined")
    assert(refined.forall { case (c, _) => c == 0 || c == 1 })
    // Lloyd sweeps tighten the within-cluster objective on separable
    // blobs (raw hash seeds are arbitrary corpus vectors)
    assert(refined.map(_._2._2).sum <= obj(0).map(_._2._2).sum,
      s"sweeps must not loosen the objective")
    // nano-rounded per-row terms ⇒ the integer sums are layout-proof
    val repart = Similarity.kmeansObjective(emb.repartition(7), "embedding",
      Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 2, sweeps = 3))
      .collect().map(r => (r.getInt(0),
        (r.getLong(1), r.getDecimal(2).longValueExact())))
    assert(repart.toMap == refined.toMap)
  }

  test("centroid classifier: separable blobs classify perfectly, margins " +
      "are positive, persist round-trips, single class has null margin") {
    val seed = (0 until 20).map { i =>
      val eps = (i % 5) * 0.01f
      if (i < 10) (i.toLong, Seq(1f, eps, 0f, 0f), "a")
      else (i.toLong, Seq(eps, 1f, 0f, 0f), "b")
    }.toDF("vec_id", "embedding", "lab")
    val model = Similarity.centroidTrain(seed, "embedding", "lab")
    assert(model.labels.toSeq == Seq("a", "b"))
    val probe = Seq(
      (100L, Seq(0.9f, 0.1f, 0f, 0f)),
      (101L, Seq(0.2f, 0.8f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.centroidClassifyScored(
      probe, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3)))).toMap
    assert(got(100L)._1 == "a" && got(101L)._1 == "b", s"$got")
    assert(got.values.forall(_._2 > 0L), s"margins positive: $got")
    // persist → load classifies bit-identically (and the filter keeps
    // exactly the cleared rows)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cm").toString + "/m"
    Similarity.saveCentroidModel(spark, model, dir)
    val re = Similarity.centroidClassifyScored(probe, "vec_id",
      "embedding", Similarity.loadCentroidModel(spark, dir))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3)))).toMap
    assert(re == got)
    val kept = Similarity.centroidFilter(probe, "vec_id", "embedding",
      model, "a", got(100L)._2).collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L), s"$kept")
    // single-class model: no runner-up → null margin
    val one = Similarity.centroidTrain(
      seed.filter(col("lab") === "a"), "embedding", "lab")
    assert(Similarity.centroidClassifyScored(
      probe, "vec_id", "embedding", one).collect().forall(_.isNullAt(3)))
  }

  test("degenerate-model + skewed-registry guards fail loudly; the NB " +
      "broadcast hint is size-gated") {
    // single-class models: the threshold filters would silently keep
    // zero rows (null margin), so both entry points require >= 2 classes
    val seed = (0 until 10).map(i =>
      (i.toLong, Seq(1f, (i % 5) * 0.01f, 0f, 0f), "a"))
      .toDF("vec_id", "embedding", "lab")
    val oneCent = Similarity.centroidTrain(seed, "embedding", "lab")
    val probe = Seq((100L, Seq(0.9f, 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.centroidFilter(
        probe, "vec_id", "embedding", oneCent, "a", 0L)
    }
    assert(e1.getMessage.contains("2 classes"), e1.getMessage)
    val docs = Seq((1L, "alpha beta", "x"), (2L, "beta gamma", "x"))
      .toDF("doc_id", "text", "lab")
    val oneNb = TextAnalysis.nbTrain(docs, "lab", "text")
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.nbFilter(docs, "doc_id", "text", oneNb, "x", 0L)
    }
    assert(e2.getMessage.contains("2 classes"), e2.getMessage)
    // broadcast-hint gate: pure size predicate, driver-known row count
    assert(TextAnalysis.nbModelBroadcastable(1000L))
    assert(!TextAnalysis.nbModelBroadcastable(
      TextAnalysis.NbBroadcastMaxModelRows + 1))
    // lockstep registry guard: a save that crashes between the priors
    // and token_log_probs commits skews the version sets — loading the
    // skewed registry must fail by name, not silently pair tables from
    // different trainings
    val two = Seq((1L, "alpha beta", "x"), (2L, "gamma delta", "y"))
      .toDF("doc_id", "text", "lab")
    val m = TextAnalysis.nbTrain(two, "lab", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nb-lockstep").toString + "/m"
    TextAnalysis.saveNbModel(m, dir)
    // healthy registry loads fine
    assert(TextAnalysis.loadNbModel(spark, dir)
      .classRows.map(_._1).toSeq == Seq("x", "y"))
    // simulate the crash: commit a new version to priors/ ONLY
    graft.functions.Dedup.overwriteParquet(m.priors, s"$dir/priors", 1)
    val e3 = intercept[IllegalArgumentException] {
      TextAnalysis.loadNbModel(spark, dir)
    }
    assert(e3.getMessage.contains("diverge"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      TextAnalysis.loadNbModelAt(spark, dir, 1L)
    }
    assert(e4.getMessage.contains("diverge"), e4.getMessage)
  }

  test("kthLargest/keepTopFraction: exact sort-free selection, ties " +
      "kept, partition-invariant, centroid composition agrees") {
    // range wider than one 65536-bucket histogram pass → multi-pass
    // refinement; duplicates; negatives
    val vals = Seq(5L, -3L, 1L << 40, 7L, (1L << 40) + 1, -3L, 100L)
    val df = vals.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    assert(Sampling.kthLargest(df, "v", 1) == (1L << 40) + 1)
    assert(Sampling.kthLargest(df, "v", 2) == (1L << 40))
    assert(Sampling.kthLargest(df, "v", 3) == 100L)
    assert(Sampling.kthLargest(df, "v", 6) == -3L)
    assert(Sampling.kthLargest(df, "v", 7) == -3L)
    assert(Sampling.kthLargest(df.repartition(5), "v", 3) == 100L,
      "selection must be partition-invariant")
    intercept[IllegalArgumentException] {
      Sampling.kthLargest(df, "v", 8)
    }
    intercept[IllegalArgumentException] {
      Sampling.kthLargest(df, "v", 0)
    }
    // randomized cross-check against the sorted definition
    val rnd = new scala.util.Random(7)
    val many = (0 until 300).map(i =>
      (i.toLong, rnd.nextLong() % (1L << 50))).toDF("id", "v")
    val sorted = many.collect().map(_.getLong(1)).sorted(
      Ordering[Long].reverse)
    for (k <- Seq(1, 17, 150, 300))
      assert(Sampling.kthLargest(many, "v", k) == sorted(k - 1),
        s"k=$k")
    // keepTopFraction: ceil(p·n)-th largest cutoff, ties INCLUSIVE
    // scores desc: 50,40,40,30,30,20,20,10,10,0
    val scores = (1 to 10).map(i => (i.toLong, (i / 2) * 10L))
      .toDF("id", "s")
    def kept(p: Double) = Sampling.keepTopFraction(scores, "s", p)
      .collect().map(_.getLong(0)).toSet
    assert(kept(0.3) == Set(8L, 9L, 10L)) // k=3, cutoff 40
    assert(kept(0.2) == Set(8L, 9L, 10L),
      "k=2 but the rank-2 value 40 is tied — ties are kept")
    assert(kept(1.0) == (1L to 10L).toSet)
    assert(Sampling.keepTopFraction(
      scores.filter(col("id") < 0), "s", 0.5).count() == 0L)
    // the one-pass sketch path: in GK exact mode (n << accuracy) the
    // approximate cutoff's survivor count is within one rank of the
    // exact form's, and p = 1 keeps everything
    val exact = Sampling.keepTopFraction(many, "v", 0.1).count()
    val approx = Sampling.keepTopFractionApprox(many, "v", 0.1).count()
    assert(math.abs(exact - approx) <= 1, s"$exact vs $approx")
    assert(Sampling.keepTopFractionApprox(many, "v", 1.0).count() == 300L)
    assert(Sampling.keepTopFractionApprox(
      scores.filter(col("id") < 0), "s", 0.5).count() == 0L)
    // null scores are excluded before the fraction is taken — not
    // counted into n (which would deepen the cutoff or, per-group,
    // land the cutoff rank ON a null and drop the whole group)
    val withNulls = Seq[(Long, java.lang.Long)](
      (1L, 10L), (2L, null), (3L, null), (4L, null))
      .toDF("id", "s")
    assert(Sampling.keepTopFraction(withNulls, "s", 0.5)
      .collect().map(_.getLong(0)).toSet == Set(1L),
      "top-50% of one real score is that score")
    val gNulls = Seq[(String, Long, java.lang.Long)](
      ("a", 1L, 10L), ("a", 2L, null), ("a", 3L, null), ("a", 4L, null),
      ("b", 5L, 7L), ("b", 6L, 3L)).toDF("g", "id", "s")
    assert(Sampling.keepTopFractionByGroup(gNulls, "g", "s", "id", 0.5)
      .collect().map(_.getLong(1)).toSet == Set(1L, 5L),
      "group a's single real score must survive, not vanish on a " +
        "null-ranked cutoff")
    // fractional score columns fail loudly on the histogram path (the
    // cutoff would be learned on truncated values, then filter the
    // untruncated ones)
    val dbl = Seq((1L, 10.9), (2L, 10.1), (3L, 5.0)).toDF("id", "s")
    val de = intercept[IllegalArgumentException] {
      Sampling.keepTopFraction(dbl, "s", 0.5)
    }
    assert(de.getMessage.contains("integral"), de.getMessage)
    // ...while the approx and per-group forms accept them
    assert(Sampling.keepTopFractionApprox(dbl, "s", 1.0).count() == 3L)
    assert(Sampling.keepTopFractionByGroup(
      dbl.withColumn("g", lit("x")), "g", "s", "id", 0.3)
      .collect().map(_.getLong(0)).toSet == Set(1L),
      "ceil(0.3 * 3) = 1 -> top double score only")
    // the centroid composition: top-half by margin equals the scored
    // frame's own top half
    val seed = (0 until 20).map { i =>
      val eps = (i % 5) * 0.01f
      if (i < 10) (i.toLong, Seq(1f, eps, 0f, 0f), "a")
      else (i.toLong, Seq(eps, 1f, 0f, 0f), "b")
    }.toDF("vec_id", "embedding", "lab")
    val model = Similarity.centroidTrain(seed, "embedding", "lab")
    val probe = (0 until 8).map(i =>
      (100L + i, Seq(1f - i * 0.1f, i * 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val scored = Similarity.centroidClassifyScored(
      probe, "vec_id", "embedding", model)
      .filter(col("predicted") === "a")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val k = math.ceil(0.5 * scored.size).toInt
    val cutoff = scored.values.toSeq.sorted(Ordering[Long].reverse)
      .apply(k - 1)
    val expect = scored.filter(_._2 >= cutoff).keySet
    val got = Similarity.centroidFilterTopFraction(
      probe, "vec_id", "embedding", model, "a", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect, s"$got vs $expect")
  }

  test("exactQuantiles matches the sorted rank definition (incl. the " +
      "decimal-rank 0.1·600 case); keepTopFractionByGroup keeps each " +
      "group's tie-inclusive top p%") {
    // n = 600 so p = 0.1 exercises the decimal-string rank arithmetic:
    // ceil(0.1 · 600) must be 60, not ceil of the double 60.0000…04 = 61
    val rnd = new scala.util.Random(11)
    val raw = (0 until 600).map(i => (i.toLong, rnd.nextLong() % 100000L))
    val df = raw.toDF("id", "v")
    val asc = raw.map(_._2).sorted
    for (p <- Seq(0.1, 0.25, 0.5, 0.9, 0.99, 1.0)) {
      val rank = (BigDecimal(p.toString) * 600)
        .setScale(0, BigDecimal.RoundingMode.CEILING).toInt
      val got = Sampling.exactQuantiles(df, "v", Seq(p)).head._2
      assert(got == asc(rank - 1), s"p=$p rank=$rank")
    }
    // the decimal-vs-double rank divergence the BigDecimal arithmetic
    // guards against: 0.07 · 1100 is exactly 77 in decimal, but the
    // double product is 77.00000000000001 and would ceil to 78
    assert((BigDecimal("0.07") * 1100).setScale(
      0, BigDecimal.RoundingMode.CEILING).toInt == 77 &&
      math.ceil(0.07 * 1100).toInt == 78,
      "the decimal-vs-double rank divergence this guards against")
    // multi-fraction call shares passes and returns input order
    val multi = Sampling.exactQuantiles(df, "v", Seq(0.9, 0.1, 0.9))
    assert(multi.map(_._1) == Seq(0.9, 0.1, 0.9))
    assert(multi(0)._2 == multi(2)._2)
    // per-group: scores desc per group; g=a has 4 rows (k=ceil(2)=2,
    // rank-2 value 30 tied twice → 3 kept), g=b has 2 (k=1 → 1 kept)
    val grouped = Seq(
      ("a", 1L, 40L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 10L),
      ("b", 5L, 7L), ("b", 6L, 3L)).toDF("g", "id", "s")
    val kept = Sampling.keepTopFractionByGroup(
      grouped, "g", "s", "id", 0.5)
      .collect().map(_.getLong(1)).toSet
    assert(kept == Set(1L, 2L, 3L, 5L), s"$kept")
    // the class-balanced NB composition agrees with a driver replay
    val train = Seq(
      (1L, "spam spam offer money", "spam"),
      (2L, "meeting notes agenda", "ham"),
      (3L, "offer money now", "spam"),
      (4L, "agenda for the meeting", "ham")).toDF("doc_id", "text", "lab")
    val model = TextAnalysis.nbTrain(train, "lab", "text")
    val test = Seq(
      (10L, "money offer offer"), (11L, "spam money spam"),
      (12L, "meeting agenda"), (13L, "notes agenda notes"),
      (14L, "offer"), (15L, "meeting")).toDF("doc_id", "text")
    val scored = TextAnalysis.nbClassifyScored(
      test, "doc_id", "text", model)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDecimal(3).longValueExact())).toSeq
    val expect = scored.groupBy(_._2).flatMap { case (_, rows) =>
      val k = (BigDecimal("0.5") * rows.size)
        .setScale(0, BigDecimal.RoundingMode.CEILING).toInt
      val cut = rows.map(_._3).sorted(Ordering[Long].reverse)(k - 1)
      rows.filter(_._3 >= cut)
    }.map(_._1).toSet
    val got = TextAnalysis.nbFilterTopFractionByClass(
      test, "doc_id", "text", model, fraction = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect, s"$got vs $expect")
  }

  test("keepBestPerCluster: highest score wins, ties to the smaller id, " +
      "singletons keep themselves, partition-invariant") {
    val scored = Seq(
      (1L, 10L, 5L), (2L, 10L, 9L), (3L, 10L, 9L), // tie at 9 -> id 2
      (4L, 40L, 7L),                               // singleton
      (5L, 50L, 1L), (6L, 50L, 3L))                // 6 beats min-id 5
      .toDF("id", "cluster", "score")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.keepBestPerCluster(df, "id", "cluster", "score")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = run(scored)
    assert(got == Map(
      10L -> ((2L, 9L, 3L)), 40L -> ((4L, 7L, 1L)),
      50L -> ((6L, 3L, 2L))), s"$got")
    assert(run(scored.repartition(5)) == got,
      "keeper must be partition-invariant (exact min-struct agg)")
  }

  test("kmeans elbow read: totals decrease in k on the fixture (nested " +
      "hash-ordered seeds), and the gate rows equal the per-k sums") {
    import TestSpark.sf
    val emb = Tables.load(spark, sf, "embeddings")
    val totals = Seq(4, 12, 24).map { k =>
      val cents = Similarity.kmeansTrain(
        emb, "vec_id", "embedding", k = k, sweeps = 3)
      k -> Similarity.kmeansObjective(emb, "embedding", cents)
        .agg(sum(col("objective_nano"))).head().getDecimal(0)
        .longValueExact()
    }
    // the elbow comparison this operator family exists for: more
    // clusters → tighter within-cluster objective (the seed chain is
    // nested across k on this corpus, so the read is strict)
    assert(totals(0)._2 > totals(1)._2 && totals(1)._2 > totals(2)._2,
      s"elbow must decrease in k: $totals")
    val gate = SparkEntry.queries("pl_kmeans_elbow")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
    assert(gate == totals, s"gate rows must equal the per-k sums: $gate")
  }

  test("kmeansTrain fails loudly when the corpus cannot seed k clusters") {
    val emb = (0 until 3).map(i => (i.toLong, Seq(1f, i.toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 5, sweeps = 1)
    }
    assert(e.getMessage.contains("k=5"), e.getMessage)
    val empty = emb.filter(col("vec_id") < 0)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.kmeansTrain(empty, "vec_id", "embedding", k = 2, sweeps = 0)
    }
    assert(e2.getMessage.contains("corpus"), e2.getMessage)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val o = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val n = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "t")
    val got = Dedup.snapshotDiff(o, n, "id", "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"), s"$got")
    // a null text on a PRESENT row is content, not absence: Spark's
    // xxhash64 is null-skipping (returns the seed hash, never null), so
    // the isNull presence checks cannot misfire on null content
    val o2 = Seq((1L, null: String), (2L, "x")).toDF("id", "t")
    val n2 = Seq((1L, null: String), (2L, null: String)).toDF("id", "t")
    val got2 = Dedup.snapshotDiff(o2, n2, "id", "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == Map(1L -> "unchanged", 2L -> "changed"), s"$got2")
    // strict mode (round 12): identical classification on every case
    // above — including the null-content rows, where md5's null result
    // needs the null-safe comparison — while requiring BOTH an xxhash64
    // AND an md5 match for "unchanged" (the flag form of the documented
    // 64-bit-collision mitigation)
    val strict = Dedup.snapshotDiff(o, n, "id", "t", strict = true).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strict == got, s"strict must match default here: $strict")
    val strict2 = Dedup.snapshotDiff(o2, n2, "id", "t", strict = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strict2 == got2,
      s"strict must keep null-content semantics: $strict2")
  }

  test("ivf index lifecycle: save/load/append, frozen quantizer") {
    import graft.functions.Similarity
    val spark = TestSpark.spark
    import spark.implicits._
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f))).toDF("id", "vec")
    val day1 = Seq(
      (10L, Seq(0.99f, 0.01f, 0f, 0f)), // near corpus 0 -> drop
      (11L, Seq(0f, 0f, 1f, 0f)))       // orthogonal -> survive
      .toDF("id", "vec")
    val day2 = Seq(
      (20L, Seq(0f, 0.01f, 0.99f, 0f)), // near day-1 SURVIVOR 11 -> drop
      (21L, Seq(0f, 0f, 0f, 1f)))       // orthogonal -> survive
      .toDF("id", "vec")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-spec").toString
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(corpus, "id", "vec", nCells = 2), dir)
    val idx1 = Similarity.loadIvfIndex(spark, dir)
    assert(idx1.centroids.length == 2)
    val surv1 = Similarity.incrementalSemDedup(day1, idx1,
      "id", "vec", threshold = 0.9, nProbe = 2)
    assert(surv1.collect().map(_.getLong(0)).toSet == Set(11L))
    // append needs the survivors' VECTORS — join the ids back to the batch
    Similarity.appendToIvfIndex(spark, dir,
      day1.join(surv1.select("id"), "id"), "id", "vec")
    val surv2 = Similarity.incrementalSemDedup(day2,
      Similarity.loadIvfIndex(spark, dir), "id", "vec",
      threshold = 0.9, nProbe = 2)
    assert(surv2.collect().map(_.getLong(0)).toSet == Set(21L),
      "day-2 must drop the near-dup of the appended day-1 survivor")
  }

  test("ivf index: loaded-from-parquet probe equals the inline path") {
    import graft.functions.Similarity
    val spark = TestSpark.spark
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 200)
    val batch = emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    val inline = Similarity.incrementalSemDedup(batch, corpus,
      "vec_id", "embedding", threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-eq").toString
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(corpus, "vec_id", "embedding"), dir)
    val loaded = Similarity.incrementalSemDedup(batch,
      Similarity.loadIvfIndex(spark, dir), "vec_id", "embedding",
      threshold = 0.9, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    // float arrays round-trip parquet exactly, so the frozen quantizer
    // and therefore the survivor set are identical
    assert(inline == loaded && inline.nonEmpty)
  }

  test("pq index lifecycle: loaded probe equals relearn; append is " +
      "frozen-books encode") {
    import graft.functions.Similarity
    val spark = TestSpark.spark
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 300)
    val queries = emb.filter(col("vec_id") < 5)
    // relearn-per-call form (the r11 shape) vs train-once/persist/probe
    val inline = Similarity.pqTopK(queries, corpus,
      "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pq-spec").toString
    Similarity.savePqIndex(
      Similarity.pqIndex(corpus, "vec_id", "embedding"), dir)
    val loadedIdx = Similarity.loadPqIndex(spark, dir)
    val loaded = Similarity.pqTopK(queries, loadedIdx,
      "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // codebooks round-trip parquet bit-exactly (float arrays), so ranks
    // AND integer ADC scores are identical
    assert(inline == loaded && inline.nonEmpty)
    // APPEND: a batch encodes under the FROZEN stored books — the codes
    // written must equal an in-memory encode under the trained books
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 350)
    Similarity.appendToPqIndex(spark, dir, batch, "vec_id", "embedding")
    val expectCodes = Similarity.pqEncodeWith(
      batch, "vec_id", "embedding", loadedIdx.books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val appended = Similarity.loadPqIndex(spark, dir).codes
      .filter(col("neighbor_id") >= 300)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(appended == expectCodes && appended.size == 50,
      "append must encode under the stored books, cost ∝ batch")
  }

  test("ivfpq index lifecycle: loaded probe equals relearn; append " +
      "assigns+encodes under the frozen models") {
    import graft.functions.Similarity
    val spark = TestSpark.spark
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 300)
    val queries = emb.filter(col("vec_id") < 5)
    val inline = Similarity.ivfPqTopK(queries, corpus,
      "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-spec").toString
    Similarity.saveIvfPqIndex(
      Similarity.ivfPqIndex(corpus, "vec_id", "embedding"), dir)
    val loaded = Similarity.ivfPqTopK(queries,
      Similarity.loadIvfPqIndex(spark, dir),
      "vec_id", "embedding", 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(inline == loaded && inline.nonEmpty)
    // append: one (id, cell, codes) row per batch vector, assigned and
    // encoded under the stored centroids/books
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 330)
    Similarity.appendToIvfPqIndex(spark, dir, batch, "vec_id", "embedding")
    val after = Similarity.loadIvfPqIndex(spark, dir)
    assert(after.cellCodes.filter(col("neighbor_id") >= 300).count() == 30)
    // the appended rows are probe-visible: a query identical to an
    // appended vector must rank it first with the self-inner-product
    val probeQ = emb.filter(col("vec_id") === 310)
      .select((col("vec_id") + 90000).as("vec_id"), col("embedding"))
    val top = Similarity.ivfPqTopK(probeQ, after,
      "vec_id", "embedding", 1, nProbe = 1).collect()
    assert(top.length == 1 && top(0).getLong(2) == 310L,
      s"the appended twin must be the nearest neighbor: ${top.toSeq}")
  }

  test("decimation metadata: durations follow kept content, exactly") {
    import graft.multimodal.Multimodal
    // 3 frames at 40ms each decimated by 2 keeps 2 frames => 80ms (the
    // r10 review fix: duration/2 would report 60)
    def png(v: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, v + x)
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", b)
      b.toByteArray
    }
    val clip = png(10) ++ png(20) ++ png(30)
    val media = Seq(Multimodal.MediaRow(1L, "video", clip, 4, 4, 120L)).toDS()
    val out = Multimodal.decimateFrames(media, 2).collect().head
    assert(out.duration_ms == 80L,
      s"2 kept frames of 40ms must report 80ms: ${out.duration_ms}")
    assert(Multimodal.splitFrames(out.content).length == 2)
    // non-divisible duration: multiply BEFORE the divide — 2 kept of a
    // 125ms 3-frame clip is 2*125/3 = 83ms, not 2*(125/3) = 82ms (the
    // truncate-first form loses up to nFrames-1 ms per clip)
    val odd = Seq(Multimodal.MediaRow(3L, "video", clip, 4, 4, 125L)).toDS()
    val oout = Multimodal.decimateFrames(odd, 2).collect().head
    assert(oout.duration_ms == 83L, s"${oout.duration_ms}")
    // audio: 301 samples at 8kHz decimated by 2 -> 151 samples at 4kHz
    // = 37ms (long math; float division would round differently at scale)
    val pcm = new Array[Byte](301 * 2)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 301L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = Seq(Multimodal.MediaRow(2L, "audio", bos.toByteArray,
      0, 0, 37L)).toDS()
    val aout = Multimodal.decimateAudio(wav, 2).collect().head
    assert(aout.duration_ms == 151L * 1000L / 4000L, s"${aout.duration_ms}")
  }

  test("anti-aliased decimation kills the Nyquist tone plain aliases") {
    import graft.multimodal.Multimodal
    // an alternating ±1000 tone at fs/2 (the Nyquist frequency): plain
    // 2:1 decimation keeps only the +1000 samples — the tone ALIASES to
    // DC — while the length-2 boxcar cancels adjacent samples to zero
    // (only the zero-padded first sample survives at half amplitude),
    // which is exactly what an anti-alias low-pass is for
    val nS = 200
    val pcm = new Array[Byte](nS * 2)
    for (i <- 0 until nS) {
      val s = if (i % 2 == 0) 1000 else -1000
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nS.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = Seq(Multimodal.MediaRow(9L, "audio", bos.toByteArray,
      0, 0, 25L)).toDS()
    val plain = Multimodal.decodeAudioStats(
      Multimodal.decimateAudio(wav, 2)).collect().head
    assert(plain.n_samples == 100 && plain.max_amp == 1000 &&
      plain.sum_amp == 100L * 1000L,
      s"plain decimation must alias the tone to DC: $plain")
    val lp = Multimodal.decodeAudioStats(
      Multimodal.decimateAudioLowpass(wav, 2)).collect().head
    assert(lp.n_samples == 100 && lp.max_amp == 500 && lp.sum_amp == 500L,
      s"the boxcar must cancel the Nyquist tone: $lp")
  }

  test("image near-dup: dHash + banded Hamming LSH equals all-pairs") {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticNearDupPngs(spark, TestSpark.sf, 80)
    val hashes = Multimodal.dhash64(media).toDF().localCheckpoint()
    val banded = Dedup.hammingDupPairs(hashes, "media_id", "dhash",
      maxDist = 6, nBands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // maxDist < nBands ⇒ pigeonhole recall is total: banding must equal
    // the brute-force all-pairs answer exactly
    val hs = hashes.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (ia, ib, d.toLong)).toSet
    assert(banded == brute && banded.nonEmpty)
    // same-group variants (one brightened cell each) must be near dups
    assert(banded.contains {
      val d = hs.toMap
      (0L, 1L, java.lang.Long.bitCount(d(0L) ^ d(1L)).toLong)
    })
  }

  test("dHash pools cell means integer-exactly (uniform 2x2 blocks)") {
    import graft.multimodal.Multimodal
    // replay the generating function: at 18x16 every 9x8 grid cell is a
    // uniform 2x2 block, so the decoded-pixel dHash must equal the hash
    // computed straight from the cell values
    val media = Multimodal.syntheticNearDupPngs(spark, TestSpark.sf, 12)
    val got = Multimodal.dhash64(media).collect()
      .map(h => h.media_id -> h.dhash).toMap
    for (id <- 0L until 12L) {
      val g = id / 4; val v = id % 4
      def cell(cx: Long, cy: Long): Long = {
        var gr = ((((g + 1) * (cx + 3) * (cy + 5) * 2654435761L) % 97) % 2) *
          150 + 40
        if (v > 0 && cx == v && cy == (v * 3) % 8) gr += 50
        gr
      }
      var expect = 0L
      for (cy <- 0L until 8L; cx <- 0L until 8L)
        if (cell(cx + 1, cy) > cell(cx, cy)) expect |= 1L << (cy * 8 + cx)
      assert(got(id) == expect, s"id $id")
    }
  }

  test("PQ ANN: codes reconstruct ranks with usable recall vs brute force") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(
      q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(
      q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    // ADC over 8x16 codebooks is lossy by design; demand real signal,
    // not coincidence (random overlap at n=500 would be ~2%)
    assert(recall >= 0.3, s"PQ recall vs brute force too low: $recall")
    // the encoded corpus is codes only: m small ints per vector
    val (codes, books) = Similarity.pqEncode(emb, "vec_id", "embedding")
    assert(books.length == 8 && books.forall(_.length == 16))
    val row = codes.limit(1).collect().head
    assert(row.getSeq[Int](1).length == 8)
  }

  test("brute-force ANN returns true nearest neighbors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(top.toSeq == Seq((1L, 1L), (2L, 2L)))
  }

  test("LSH ANN recall vs brute force on real embeddings") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val single = Similarity.lshTopK(q, emb, "vec_id", "vec_id", "embedding", 10,
      nPlanes = 2, multiProbe = false)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val multi = Similarity.lshTopK(q, emb, "vec_id", "vec_id", "embedding", 10,
      nPlanes = 2, multiProbe = true)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val singleRecall = (brute & single).size.toDouble / brute.size
    val multiRecall = (brute & multi).size.toDouble / brute.size
    assert(single.nonEmpty && multi.nonEmpty)
    assert(singleRecall > 0.15, s"single-probe recall=$singleRecall")
    // multi-probe widens the candidate set: recall must not regress and
    // should be high with 2 planes (probing 3 of 4 buckets)
    assert(multiRecall >= singleRecall, s"multi=$multiRecall single=$singleRecall")
    assert(multiRecall > 0.5, s"multi-probe recall=$multiRecall")
  }

  test("LSH auto-sizing: planes grow with the corpus; recall holds") {
    // floor(log2 n) − 2, floored at 4: candidate volume ≈ (p+1)/2^p stays
    // sublinear as the corpus grows (2000 → 8 planes ≈ 3.5%, 1M → 17)
    assert(Similarity.autoPlanes(1) == 4)
    assert(Similarity.autoPlanes(500) == 6)
    assert(Similarity.autoPlanes(2000) == 8)
    assert(Similarity.autoPlanes(1000000) == 17)
    assert(Similarity.autoPlanes(1L << 40) == 38)
    // real-embeddings bound: the test corpus is isotropic Gaussian with NO
    // planted structure, so rank-10 "neighbors" sit at ~70° where per-bit
    // sign agreement is ~0.6 and ANY sublinear ANN has limited recall; the
    // assertion is that banded recall far exceeds the ~6% random-candidate
    // baseline (4 bands × 6 bits at n=500), i.e. the buckets carry signal
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val auto = Similarity.lshTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & auto).size.toDouble / brute.size
    assert(auto.nonEmpty)
    assert(recall > 0.15, s"auto-planes recall=$recall vs ~0.06 random baseline")
  }

  test("LSH auto-sizing: planted near-neighbors are recalled") {
    // where locality actually exists (the ANN use case: near-duplicate
    // embeddings at cosine ≈ 0.99), a planted neighbor only needs one of
    // the four bands uncut — expected recall > 99% at any corpus size
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0L until 500L).map(i => (i, vec()))
    val planted = (0L until 5L).map { i =>
      val v = base(i.toInt)._2
      (1000L + i, v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5)
    val got = Similarity.lshTopK(
      queries, corpus, "vec_id", "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = (0L until 5L).count(i => got.contains((i, 1000L + i)))
    assert(found >= 4, s"planted neighbors recalled: $found/5")
  }

  test("IVF ANN recall vs brute force on real embeddings") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "vec_id", "embedding", 10,
      nCells = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(ivf.nonEmpty)
    // probing half the cells should recover well above that fraction of
    // true neighbors (nearby vectors concentrate in nearby cells)
    assert(recall > 0.3, s"recall=$recall")
  }

  test("groupOverlap stop-shingle prune is output-identical") {
    // "common stop shingle words here" appears in every group → its
    // 3-grams are universal (the hottest join keys); s1↔s3 overlap ONLY
    // via those universal shingles, exercising the add-back path where the
    // pruned join has no row at all for a pair
    val docs = Seq(
      ("s1", 1L, "common stop shingle words here alpha beta gamma"),
      ("s2", 2L, "common stop shingle words here delta epsilon zz"),
      ("s3", 3L, "common stop shingle words here zeta eta theta"),
      ("s1", 4L, "unique one text for source one entirely"),
      ("s2", 5L, "unique one text for source one entirely almost")
    ).toDF("source", "doc_id", "text")
    def rows(p: Boolean) =
      Dedup.groupOverlap(docs, "source", "text", n = 3, pruneUniversal = p)
        .orderBy("grp_a", "grp_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val pruned = rows(true)
    assert(pruned == rows(false))
    assert(pruned.map(t => (t._1, t._2)).contains(("s1", "s3")),
      "the universal-only pair must survive the prune")
  }

  test("salted aggregation equals plain groupBy") {
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
    val salted = graft.functions.Skew.saltedAggregate(li, "l_returnflag", "l_quantity")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
  }

  test("cosine dup pairs are symmetric-deduped and above threshold") {
    val got = Similarity.cosineDupPairs(
      Tables.load(spark, TestSpark.sf, "embeddings"),
      "vec_id", "embedding", threshold = 0.3)
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.3)
    }
  }

  test("banded cosine dup pairs: recall vs exact all-pairs on a window") {
    // same window + threshold as the pl_cosine_dups_exact gate query; the
    // gate data's pairs at 0.35 are background-tail (~2.8σ of a Gaussian
    // similarity distribution) — the hardest regime for sign-LSH, where the
    // old single-16-bucket design measured 0.14 recall
    val e = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") < 200)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= 0.35)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineDupPairs(e, "vec_id", "embedding",
      threshold = 0.35, nPlanes = 32, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "verified candidates must all be true pairs")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall (expected ~0.7 with 8 bands of 4)")
  }

  test("banded cosine dup pairs: planted near-dups found at high threshold") {
    // the design regime — near-duplicate detection at threshold >= 0.9,
    // where longer bands (r=8) keep candidate volume ~n²·b·2^-8 while
    // per-band match probability for a planted dup stays near 1
    val base = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    // plant: copy each vector with a deterministic ±2% relative per-dim
    // jitter (alternating sign by dimension) — cosine vs the original is
    // ~0.9996, a genuine near-duplicate rather than an identical angle
    val planted = base.select(
      (col("vec_id") + 10000L).as("vec_id"),
      zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => x * (lit(1.0f) + when(pmod(i, lit(2)) === 0,
          lit(0.02f)).otherwise(lit(-0.02f)))).as("embedding"))
    val pairs = Similarity.cosineDupPairs(
      base.unionByName(planted), "vec_id", "embedding",
      threshold = 0.9, nPlanes = 32, rowsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uniform scaling leaves cosine at exactly 1: every planted pair must
    // land in the same bucket in every band and survive verification
    val expected = (0L until 100L).map(i => (i, i + 10000L)).toSet
    assert(expected.subsetOf(pairs),
      s"missing planted pairs: ${(expected -- pairs).take(5)}")
  }

  test("langId identifies hand-labeled samples") {
    val samples = Seq(
      ("the cat is on the mat and it is happy", "en"),
      ("el gato está en la casa y es de madrid", "es"),
      ("le chat est sur le tapis et les oiseaux", "fr"),
      ("der hund ist in dem haus und die katze", "de"),
      ("xyzzy plugh qwerty", "und"))
    val df = samples.map(_._1).toDF("text")
      .withColumn("guess", TextAnalysis.langId(col("text")))
    val got = df.collect().map(_.getString(1)).toSeq
    assert(got == samples.map(_._2))
  }

  test("native shingleSet agrees with the Column form on corpus and edge cases") {
    val edge = Seq("", "a", "a b", "a b c", "a b c d", "x x x x x", "a  b\tc")
    val corpus = Tables.load(spark, graft.TestSpark.sf, "documents")
      .select(col("text")).limit(300)
      .unionByName(edge.toDF("text"))
    val both = corpus.select(
      Dedup.shingleSet(col("text"), 3).as("fast"),
      array_distinct(Dedup.shinglesColumnForm(
        TextAnalysis.tokens(col("text")), 3)).as("ref"))
    val diff = both.filter(not(col("fast") <=> col("ref"))).collect()
    assert(diff.isEmpty, s"native/Column shingleSet disagree: ${diff.take(3).toSeq}")
  }

  test("native qualityFeatures agrees with the Column form on corpus and edge cases") {
    val edge = Seq(
      "", "   ", "a", "¡Hola! ¿Qué tal?", "π ≈ 3.14159 Ⅻ",
      "the the THE", "tabs\there\nandmore", "no-stop words: 42!")
    val corpus = Tables.load(spark, graft.TestSpark.sf, "documents")
      .select(col("text")).limit(300)
      .unionByName(edge.toDF("text"))
    val both = corpus.select(
      TextAnalysis.qualityFeatures(col("text")).as("fast"),
      TextAnalysis.qualityFeaturesColumnForm(col("text")).as("ref"))
    val diff = both.filter(not(col("fast") <=> col("ref"))).collect()
    assert(diff.isEmpty, s"native/Column qualityFeatures disagree: ${diff.take(3).toSeq}")
  }

  test("native lshBits agrees with the Column form on real embeddings") {
    val emb = Tables.load(spark, graft.TestSpark.sf, "embeddings")
      .select(col("embedding")).limit(200)
    for (nPlanes <- Seq(4, 32)) {
      val both = emb.select(
        Similarity.lshBits(col("embedding"), nPlanes).as("fast"),
        Similarity.lshBitsColumnForm(col("embedding"), nPlanes).as("ref"))
      val diff = both.filter(not(col("fast") <=> col("ref"))).collect()
      assert(diff.isEmpty,
        s"native/Column lshBits disagree at nPlanes=$nPlanes: ${diff.take(3).toSeq}")
    }
  }

  test("native nearestCells agrees with the Column form on real embeddings") {
    val emb = Tables.load(spark, graft.TestSpark.sf, "embeddings")
      .select(col("embedding")).limit(200)
    // deterministic fake centroids derived from the first rows
    val cents = Tables.load(spark, graft.TestSpark.sf, "embeddings")
      .orderBy(col("vec_id")).limit(8)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    for (nProbe <- Seq(1, 3)) {
      val both = emb.select(
        Similarity.nearestCells(col("embedding"), cents, nProbe).as("fast"),
        Similarity.nearestCellsColumnForm(col("embedding"), cents, nProbe).as("ref"))
      val diff = both.filter(not(col("fast") <=> col("ref"))).collect()
      assert(diff.isEmpty,
        s"native/Column nearestCells disagree at nProbe=$nProbe: ${diff.take(3).toSeq}")
    }
  }

  test("nearestCells orders a NaN-scored centroid greatest, like Spark") {
    // regression: primitive >= is always false against NaN, making
    // selection position-dependent; Double.compare ranks NaN greatest,
    // matching the array_max/array_sort Column twin
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vec = new GenericArrayData(Array[Any](1.0f, 0.0f))
    for (nanIdx <- 0 until 3) {
      val cents = Array.tabulate(3, 2) { (c, j) =>
        if (c == nanIdx) Double.NaN else if (j == 0) c + 1.0 else 1.0
      }
      val got = graft.functions.NearestCellsUtil
        .nearest(vec, cents.flatten, 3, 2, 1, isFloat = true)
        .toIntArray()
      assert(got.head == nanIdx, s"NaN centroid at $nanIdx must rank first")
    }
  }

  test("lshBits accepts array<double> and rejects non-numeric arrays") {
    // r02 advice: getFloat on a double array read silent garbage — now it
    // dispatches on element type like CosineSim and errors on anything else
    val floats = Seq(Tuple1(Array(0.5f, -1.25f, 2.0f))).toDF("v")
    val doubles = Seq(Tuple1(Array(0.5d, -1.25d, 2.0d))).toDF("v")
    val fromF = floats.select(Similarity.lshBits(col("v"), 16)).collect()
    val fromD = doubles.select(Similarity.lshBits(col("v"), 16)).collect()
    // the values are float-exact, so the sign bits must agree bitwise
    assert(fromF.head.getSeq[Long](0) == fromD.head.getSeq[Long](0))
    val e = intercept[Exception] {
      Seq(Tuple1(Array("a", "b"))).toDF("v")
        .select(Similarity.lshBits(col("v"), 4)).collect()
    }
    assert(e.getMessage != null)
  }

  test("native langId agrees with the Column form on corpus and edge cases") {
    val edge = Seq(
      "", "   ", "\tle\nlade\f", // odd whitespace, fr/es shared markers
      "de de la la",                   // multi-language markers, tie shapes
      "the le der el il o",            // one hit in every language → greatest code wins
      "FÜR UND DER", "Le LA dE",       // case folding incl. non-ASCII
      "un un del del que que")         // words marking 2-3 languages each
    val corpus = Tables.load(spark, graft.TestSpark.sf, "documents")
      .select(col("text")).limit(300)
      .unionByName(edge.toDF("text"))
    val both = corpus.select(
      TextAnalysis.langId(col("text")).as("fast"),
      TextAnalysis.langIdColumnForm(col("text")).as("ref"))
    val diff = both.filter(not(col("fast") <=> col("ref"))).collect()
    assert(diff.isEmpty, s"native/Column langId disagree: ${diff.take(5).toSeq}")
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(3L))
    assert(got(1L) != got(2L))
  }

  test("quality features compute sane ranges") {
    val r = Seq(("the quick brown fox, it jumps!", 1))
      .toDF("text", "x")
      .select(TextAnalysis.qualityFeatures(col("text")).as("q"))
      .select("q.n_tokens", "q.stopword_ratio", "q.punct_ratio", "q.mean_token_len")
      .collect()(0)
    assert(r.getLong(0) == 6L)
    assert(r.getDouble(1) > 0.2 && r.getDouble(1) < 0.5) // 'the', 'it'
    assert(r.getDouble(2) > 0.0 && r.getDouble(2) < 0.2)
    assert(r.getDouble(3) > 3.0)
  }

  test("bpeish tokenization splits letter/digit/punct runs") {
    val got = Seq(("abc123,def!", 1)).toDF("text", "x")
      .select(TextAnalysis.bpeishTokens(col("text")).as("t"))
      .collect()(0).getSeq[String](0)
    assert(got == Seq("abc", "123", ",", "def", "!"))
  }

  test("multimodal: features deterministic, frames sample by duration") {
    val media = Multimodal.mediaFromDocuments(spark, TestSpark.sf)
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.map(_.checksum).toSeq == f2.map(_.checksum).toSeq)
    assert(f1.forall(_.feature.length == 8))
    val frames = Multimodal.sampleFrames(media, everyMs = 5000L)
    val byId = frames.collect().groupBy(_.media_id)
    val m = media.collect()
    m.foreach { row =>
      val expected =
        if (row.kind == "image" || row.duration_ms <= 0) 1
        else (1 + row.duration_ms / 5000L).toInt
      assert(byId(row.media_id).length == expected,
        s"media ${row.media_id} kind=${row.kind} dur=${row.duration_ms}")
    }
    // resize stub caps dimensions
    val resized = Multimodal.resize(media.toDF(), maxDim = 256)
      .select(max(greatest(col("width"), col("height")))).collect()(0).getInt(0)
    assert(resized <= 256)
  }

  test("editDistancePairs: planted typo-dup found with its exact distance") {
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest while birds sing loudly above"
    val typo = base.replace("quick", "qiuck")
    val other = "completely different content about database engines and " +
      "distributed query processing with columnar storage formats here"
    val docs = Seq((1L, base), (2L, typo), (3L, other))
      .toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(docs, "doc_id", "text", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, _) => (a, b) == (1L, 2L) })
    // one transposition = 2 single-char edits under Levenshtein
    assert(pairs.collect { case (1L, 2L, d) => d }.head == 2L)
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("chunk: overlap arithmetic, tail coverage, empty docs drop") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than a chunk
      (3L, "")                                        // empty → drops
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.chunk(docs, "doc_id", "text",
      chunkTokens = 5, overlapTokens = 2)
      .orderBy("id", "chunk_ix").collect()
    val byDoc = rows.groupBy(_.getLong(0))
    // n=10, stride 3 → ceil(8/3)=3 chunks: [w1..w5], [w4..w8], [w7..w10]
    val d1 = byDoc(1L).map(r => (r.getLong(1), r.getString(2)))
    assert(d1.toSeq == Seq(
      (0L, "w1 w2 w3 w4 w5"), (1L, "w4 w5 w6 w7 w8"), (2L, "w7 w8 w9 w10")))
    // the last chunk reaches the end and reports its true token count
    assert(byDoc(1L).last.getLong(3) == 4L)
    assert(byDoc(2L).map(_.getString(2)).toSeq == Seq("a b c"))
    assert(!byDoc.contains(3L))
  }

  test("canonicalUrl: case, ports, fragments, tracking params, slashes") {
    def canon(u: String): Any =
      Seq(Tuple1(u)).toDF("u")
        .select(TextAnalysis.canonicalUrl(col("u"))).collect()(0).get(0)
    assert(canon("HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&b=2&a=1#f") ==
      "https://www.example.com/A/b?a=1&b=2")
    assert(canon("http://Site.org:80") == "http://site.org/")
    assert(canon("http://site.org/?gclid=z&fbclid=y&utm_campaign=c") ==
      "http://site.org/")
    // non-default port survives; path case survives; param ORDER canons
    assert(canon("https://h.com:8443/x?b=2&a=1") ==
      "https://h.com:8443/x?a=1&b=2")
    // a valueless tracking key and an empty param both drop
    assert(canon("http://h.com/p?utm_source&x=1&") == "http://h.com/p?x=1")
    // not an absolute URL → null
    assert(canon("relative/path/only") == null)
    assert(canon("") == null)
  }
}
