package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Dedup, Retrieval, TextAnalysis}

/** The persisted BM25 index's lifecycle contract: every probe of the
  * index must score EXACTLY (bit-for-bit doubles) like a from-scratch
  * [[TextAnalysis.bm25]] over the equivalent corpus — after build, after
  * append (statistics deltas included), after delete, and after
  * compaction. The pl_bm25_index gate proves the same against DuckDB;
  * this spec proves it against the in-engine per-call operator and covers
  * the corners the gate's corpus doesn't exercise (absent query terms,
  * meta delta collapse).
  */
class RetrievalIndexSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark query engine runs a table scan over the table"),
    (2L, "the query planner rewrites every query against the table"),
    (3L, "storage formats and compression for columnar data"),
    (4L, "spark spark spark nothing else here"),
    (5L, "a table of contents")).toDF("doc_id", "text")
  private val batch = Seq(
    (6L, "query the spark table twice"),
    (7L, "unrelated prose about forests and rivers")).toDF("doc_id", "text")
  private val terms = Seq("table", "query", "spark")

  private def probeRows(dir: String, q: Seq[String] = terms) =
    Retrieval.bm25Probe(Retrieval.loadBm25Index(spark, dir), q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq

  private def directRows(docs: org.apache.spark.sql.DataFrame,
      q: Seq[String] = terms) =
    TextAnalysis.bm25(docs, "doc_id", "text", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq

  test("probe of a freshly built index == from-scratch bm25, bit-exact") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir)
    assert(probeRows(dir) == directRows(corpus))
  }

  test("append shifts statistics; probe == bm25 over the unioned corpus") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir)
    Retrieval.appendToBm25Index(batch, "doc_id", "text", dir)
    assert(probeRows(dir) == directRows(corpus.unionByName(batch)))
  }

  test("delete removes docs AND their statistics; compaction is neutral") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir)
    Retrieval.appendToBm25Index(batch, "doc_id", "text", dir)
    Retrieval.deleteFromBm25Index(spark, dir,
      Seq(2L, 4L).toDF("doc_id"), numFiles = 2)
    val want = directRows(corpus.unionByName(batch)
      .filter(!col("doc_id").isin(2L, 4L)))
    assert(probeRows(dir) == want)
    assert(!probeRows(dir).exists(r => r._1 == 2L || r._1 == 4L))
    // the delete expires the older versions: no file holds a deleted doc
    for (t <- Seq("postings", "lens"))
      assert(spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/$t")
        .filter(col("doc_id").isin(2L, 4L)).count() == 0L, t)
    // compaction collapses the four meta delta rows (save, append,
    // delete, and the collapse target) to one and changes nothing
    Retrieval.compactBm25Index(spark, dir, numFiles = 1)
    assert(probeRows(dir) == want)
    assert(spark.read.parquet(Dedup.snapshotFiles(spark, s"$dir/meta"): _*)
      .count() == 1L)
    val idx = Retrieval.loadBm25Index(spark, dir)
    assert(idx.nDocs == 5L) // 7 docs minus 2 deleted
  }

  test("query terms absent from the corpus contribute exactly 0.0") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir)
    val q = Seq("table", "zzz_not_present")
    assert(probeRows(dir, q) == directRows(corpus, q))
  }

  test("compaction RECOUNTS statistics from lens/ — the drift heal") {
    // simulate the documented crash window: a delete whose table
    // rewrites landed but whose negative meta delta did not (here: a
    // bogus positive delta plays the stale-stats role). Probes drift —
    // and compaction must restore exactness by recounting from lens/,
    // not by summing the (now wrong) deltas.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir)
    val want = directRows(corpus)
    assert(probeRows(dir) == want)
    Dedup.appendParquet(
      Seq((5L, 40L, Option.empty[Double], Option.empty[Double]))
        .toDF("n_docs_delta", "total_dl_delta", "k1", "b").coalesce(1),
      s"$dir/meta")
    assert(probeRows(dir) != want, "drifted stats must actually drift")
    Retrieval.compactBm25Index(spark, dir, numFiles = 1)
    assert(probeRows(dir) == want,
      "compaction must recount n_docs/total_dl from lens/")
  }

  test("batched probe == per-query probes, bit-exact; no-hit query empty") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir)
    val idx = Retrieval.loadBm25Index(spark, dir)
    // q1 has THREE terms on purpose: IEEE addition is not associative,
    // so this only passes because the batched fold replays the solo
    // probe's caller-order association (position-sorted, not token-
    // sorted) — a 2-term query would pass under any order
    val qs = Seq(
      (1L, Seq("table", "query", "spark")), (2L, Seq("spark")),
      (3L, Seq("zzz_not_present")))
    val many = Retrieval.bm25ProbeMany(idx, qs.toDF("query_id", "terms"),
      "query_id", "terms", 10)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3).toSeq).toMap
    for ((qid, terms) <- qs.take(2)) {
      val single = Retrieval.bm25Probe(idx, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
        .toSeq
      assert(many(qid) == single, s"query $qid must match its solo probe")
    }
    assert(!many.contains(3L), "a query with no matching terms is empty")
  }

  test("skipExisting append drops already-indexed ids — a re-delivered " +
      "batch cannot double-count statistics") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir)
    Retrieval.appendToBm25Index(batch, "doc_id", "text", dir)
    val want = directRows(corpus.unionByName(batch))
    assert(probeRows(dir) == want)
    // full re-delivery: with the guard, a no-op
    Retrieval.appendToBm25Index(batch, "doc_id", "text", dir,
      skipExisting = true)
    assert(probeRows(dir) == want, "a re-delivered batch must be a no-op")
    assert(spark.read.parquet(Dedup.snapshotFiles(spark, s"$dir/lens"): _*)
      .where(col("doc_id") === 6L).count() == 1L)
    // partial overlap: only the genuinely new doc lands
    val mixed = Seq(
      (6L, "query the spark table twice"),
      (8L, "a brand new doc about the spark table")).toDF("doc_id", "text")
    Retrieval.appendToBm25Index(mixed, "doc_id", "text", dir,
      skipExisting = true)
    assert(probeRows(dir) == directRows(corpus.unionByName(batch)
      .unionByName(mixed.filter(col("doc_id") === 8L))))
    // and WITHOUT the guard the same misuse really does double-count
    // (the documented contract the flag exists to prevent)
    Retrieval.appendToBm25Index(batch, "doc_id", "text", dir)
    assert(spark.read.parquet(Dedup.snapshotFiles(spark, s"$dir/lens"): _*)
      .where(col("doc_id") === 6L).count() == 2L)
  }

  test("load fails loudly on an append-only index (no build-time k1/b)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    // bootstrap by APPEND alone (the streaming-ingest shape): the first
    // append onto a fresh dir stamps default parameters, so the index
    // stays loadable…
    Retrieval.appendToBm25Index(corpus, "doc_id", "text", dir)
    val idx = Retrieval.loadBm25Index(spark, dir)
    assert(idx.k1 == 1.2 && idx.b == 0.75)
    assert(probeRows(dir) == directRows(corpus))
    // …but an index whose meta carries ONLY null-parameter delta rows
    // (the pre-round-13 append shape) must refuse to load rather than
    // silently score with k1=0, b=0
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir2)
    val legacy = Seq((5L, 40L, Option.empty[Double], Option.empty[Double]))
      .toDF("n_docs_delta", "total_dl_delta", "k1", "b")
    // overwrite meta with a null-only ledger
    Dedup.overwriteParquet(legacy, s"$dir2/meta", numFiles = 1)
    val e = intercept[IllegalArgumentException] {
      Retrieval.loadBm25Index(spark, dir2)
    }
    assert(e.getMessage.contains("k1/b"))
  }

  test("repairBm25Append heals a crashed append — partial landings, " +
      "meta recount, and a fresh dir that never landed") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    Retrieval.saveBm25Index(corpus, "doc_id", "text", dir)
    val want = directRows(corpus)
    val ids = batch.select("doc_id")
    // fresh-index shape: repairing ids that never landed anywhere is a
    // no-op, INCLUDING when the index dirs don't exist at all (the r12
    // crash-loop bug)
    Retrieval.repairBm25Append(spark, dir, ids)
    assert(probeRows(dir) == want)
    val ghost = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString + "/nonexistent"
    Retrieval.repairBm25Append(spark, ghost, ids) // must not throw
    // crash after postings+lens landed but BEFORE the meta delta (the
    // undercount window): repair removes the rows AND recounts meta, so
    // the ledger is exact immediately — not after the nightly compaction
    // replicate appendToBm25Index's first two writes only
    val rows = batch
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    rows.write.mode("append").parquet(s"$dir/postings")
    rows.groupBy("doc_id").agg(sum("tf").as("dl"))
      .write.mode("append").parquet(s"$dir/lens")
    Retrieval.repairBm25Append(spark, dir, ids)
    assert(probeRows(dir) == want,
      "repair must remove partial landings and recount statistics")
    val idx = Retrieval.loadBm25Index(spark, dir)
    assert(idx.nDocs == 5L && idx.k1 == 1.2,
      s"meta recount must be exact and keep k1/b: $idx")
  }
}
