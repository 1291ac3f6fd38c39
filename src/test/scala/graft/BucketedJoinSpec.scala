package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sinks

/** Pins the co-location contract of [[Sinks.writeBucketed]]: equal-key
  * equal-bucket tables join with zero shuffle exchanges.
  */
class BucketedJoinSpec extends AnyFunSuite {
  import TestSpark.spark

  /** Shuffle-exchange count in a plan string: hash/range/single
    * partitioning forms only — bare "Exchange" would also match
    * BroadcastExchange and ReusedExchange (ADVICE r11). */
  private def shuffles(plan: String): Int =
    "Exchange (hash|range|single)partitioning".r.findAllIn(plan).length

  test("bucketed tables join without a shuffle exchange") {
    val dir = Files.createTempDirectory("graft_bucketed").toString
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables.load(spark, TestSpark.sf, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    Sinks.writeBucketed(orders, "orders_b", s"$dir/orders", "o_custkey", 8)
    Sinks.writeBucketed(customer, "customer_b", s"$dir/customer", "c_custkey", 8)

    // disable broadcast so the planner must pick SMJ — the point is that
    // the bucket layout replaces BOTH shuffles, not that the table is small
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      // count in the PLAN STRING: a typed collect over ShuffleExchangeExec
      // is vacuous under AQE (AdaptiveSparkPlanExec exposes no children),
      // which would make this assertion pass on any plan. Match the
      // SHUFFLE exchange forms specifically — a bare "Exchange" regex
      // also hits BroadcastExchange/ReusedExchange, where a planner
      // change could flip the count without any real shuffle regression.
      val p = joined.queryExecution.executedPlan.toString
      assert(shuffles(p) == 0,
        s"expected zero shuffles, got:\n$p")
      // and it still computes the right thing
      val expected = orders.join(customer,
        col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("bucketed minhash index probes with zero corpus-side shuffle") {
    import graft.functions.Dedup
    import spark.implicits._
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
    val dir = Files.createTempDirectory("graft_bidx").toString
    Dedup.saveMinhashIndexBucketed(
      Dedup.minhashIndex(corpus, "doc_id", "text"), "mh_idx", dir)
    // force SMJ so the assertion tests the bucket layout, not broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val idx = Dedup.loadMinhashIndexBucketed(spark, "mh_idx", dir)
      val probe = Dedup.incrementalMinhashDedup(batch, idx,
        "doc_id", "text", threshold = 0.4)
      // the corpus-side scans carry the bucket spec...
      val p = probe.queryExecution.executedPlan.toString
      assert("Bucketed: true".r.findAllIn(p).length == 2,
        s"both corpus scans must read bucketed:\n$p")
      // ...which deletes exactly the two corpus-side exchanges the plain
      // parquet-index probe pays (the band-bucket candidate join and the
      // __cid verify join) — measured 7 vs 9; only batch-derived sides
      // shuffle. String counts, not a typed collect (vacuous under AQE).
      val plainDir = Files.createTempDirectory("graft_pidx").toString
      Dedup.saveMinhashIndex(
        Dedup.minhashIndex(corpus, "doc_id", "text"), plainDir)
      val plain = Dedup.incrementalMinhashDedup(batch,
        Dedup.loadMinhashIndex(spark, plainDir), "doc_id", "text",
        threshold = 0.4)
      val pp = plain.queryExecution.executedPlan.toString
      val (nB, nP) = (shuffles(p), shuffles(pp))
      assert(nB == nP - 2,
        s"bucketing must remove both corpus-side shuffles: $nB vs $nP")
      // and the survivor set equals the plain parquet-index probe
      assert(probe.collect().map(_.getLong(0)).toSet ==
        plain.collect().map(_.getLong(0)).toSet)
      // append keeps the layout: a batch-sized bucketed write, and the
      // catalog still reports the same bucket spec
      Dedup.appendToMinhashIndexBucketed(spark, "mh_idx", dir,
        batch.limit(10), "doc_id", "text")
      val spec = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("mh_idx_buckets"))
        .bucketSpec
      assert(spec.exists(_.numBuckets == 64), s"bucket spec kept: $spec")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS mh_idx_sets")
      spark.sql("DROP TABLE IF EXISTS mh_idx_buckets")
    }
  }

  test("bucketed hamming index probes with zero corpus-side shuffle") {
    import graft.functions.{Dedup, TextAnalysis}
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") < 400)
      .select(col("doc_id"),
        Dedup.simhash(TextAnalysis.tokens(col("text"))).as("sh"))
    val corpus = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 300)
    val dir = Files.createTempDirectory("graft_bhidx").toString
    Dedup.saveHammingIndexBucketed(
      Dedup.hammingIndex(corpus, "doc_id", "sh"), "hm_idx", dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = Dedup.incrementalHammingDedup(batch,
        Dedup.loadHammingIndexBucketed(spark, "hm_idx", dir),
        "doc_id", "sh", maxDist = 7)
      val p = probe.queryExecution.executedPlan.toString
      assert("Bucketed: true".r.findAllIn(p).length == 1,
        s"the corpus band scan must read bucketed:\n$p")
      // the bucket layout deletes exactly the ONE corpus-side exchange
      // the plain parquet probe pays (its single band-bucket equi-join —
      // the Hamming verify is a same-row popcount, not a second join)
      val plainDir = Files.createTempDirectory("graft_phidx").toString
      Dedup.saveHammingIndex(
        Dedup.hammingIndex(corpus, "doc_id", "sh"), plainDir)
      val plain = Dedup.incrementalHammingDedup(batch,
        Dedup.loadHammingIndex(spark, plainDir), "doc_id", "sh",
        maxDist = 7)
      val pp = plain.queryExecution.executedPlan.toString
      val (nB, nP) = (shuffles(p), shuffles(pp))
      assert(nB == nP - 1,
        s"bucketing must remove the corpus-side shuffle: $nB vs $nP")
      assert(probe.collect().map(_.getLong(0)).toSet ==
        plain.collect().map(_.getLong(0)).toSet)
      // append keeps the layout and the catalog spec
      Dedup.appendToHammingIndexBucketed(spark, "hm_idx", dir,
        batch.limit(10), "doc_id", "sh")
      val spec = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("hm_idx_buckets"))
        .bucketSpec
      assert(spec.exists(_.numBuckets == 64), s"bucket spec kept: $spec")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS hm_idx_buckets")
    }
  }

  test("bucketed ivf index: equi probe has zero corpus-side shuffle and " +
      "equals the broadcast-probe answer") {
    import graft.functions.Similarity
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 250)
    val batch = emb.filter(col("vec_id") < 100).select(
      (col("vec_id") + 10000).as("vec_id"),
      when(col("vec_id") % 7 === 0, col("embedding"))
        .otherwise(reverse(col("embedding"))).as("embedding"))
    val dir = Files.createTempDirectory("graft_bvidx").toString
    // the broadcast-batch nested-loop form (right when batch ≪ corpus)
    // is the semantics oracle for the equi form — computed with default
    // confs, before broadcast is disabled for the plan pins
    val expect = Similarity.incrementalSemDedup(batch, corpus,
      "vec_id", "embedding", threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    Similarity.saveIvfIndexBucketed(
      Similarity.ivfIndex(corpus, "vec_id", "embedding"), "ivf_idx", dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val idx = Similarity.loadIvfIndexBucketed(spark, "ivf_idx", dir)
      val probe = Similarity.incrementalSemDedupEqui(batch, idx,
        "vec_id", "embedding", threshold = 0.95, nProbe = 2)
      val p = probe.queryExecution.executedPlan.toString
      assert("Bucketed: true".r.findAllIn(p).length == 1,
        s"the corpus cells scan must read bucketed:\n$p")
      // vs the SAME equi probe over the plain parquet index: bucketing
      // deletes exactly the one corpus-side cell-join exchange
      val plainDir = Files.createTempDirectory("graft_pvidx").toString
      Similarity.saveIvfIndex(
        Similarity.ivfIndex(corpus, "vec_id", "embedding"), plainDir)
      val plain = Similarity.incrementalSemDedupEqui(batch,
        Similarity.loadIvfIndex(spark, plainDir),
        "vec_id", "embedding", threshold = 0.95, nProbe = 2)
      val pp = plain.queryExecution.executedPlan.toString
      val (nB, nP) = (shuffles(p), shuffles(pp))
      assert(nB == nP - 1,
        s"bucketing must remove the corpus-side shuffle: $nB vs $nP")
      assert(probe.collect().map(_.getLong(0)).toSet == expect,
        "equi probe must equal the broadcast-probe survivors")
      // append assigns under the stored centroids and keeps the layout
      Similarity.appendToIvfIndexBucketed(spark, "ivf_idx", dir,
        emb.filter(col("vec_id") >= 250 && col("vec_id") < 260),
        "vec_id", "embedding")
      val spec = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("ivf_idx_cells"))
        .bucketSpec
      assert(spec.exists(_.numBuckets == 16), s"bucket spec kept: $spec")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS ivf_idx_cells")
    }
  }

  test("bucketed bm25 index probes with one batch-sized shuffle only") {
    import graft.functions.Retrieval
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
    val dir = Files.createTempDirectory("graft_bm25b").toString
    Retrieval.saveBm25IndexBucketed(corpus, "doc_id", "text",
      "bm25_idx", dir, nBuckets = 8)
    // force SMJ for the lens join so the assertion tests the bucket
    // layout; the <=|terms|-row df side stays an explicit broadcast hint
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val idx = Retrieval.loadBm25IndexBucketed(spark, "bm25_idx", dir)
      val probe = Retrieval.bm25Probe(idx,
        Seq("table", "query", "spark"), 10)
      val p = probe.queryExecution.executedPlan.toString
      // three bucketed corpus scans: postings twice (term hits + the df
      // aggregate, which reuses the token buckets with NO exchange) and
      // lens once (pre-partitioned side of the score join)
      assert("Bucketed: true".r.findAllIn(p).length == 3,
        s"all corpus scans must read bucketed:\n$p")
      // bucket PRUNING: the token IN (...) filter selects only the query
      // terms' buckets — the inverted-index serving property (read ∝
      // matched postings, never the corpus)
      val pruned = "SelectedBucketsCount: (\\d+) out of 8".r
        .findAllMatchIn(p).map(_.group(1).toInt).toSeq
      assert(pruned.count(_ < 8) >= 2,
        s"term buckets must prune on both postings scans:\n$p")
      // the serving contract: the ONLY hash exchange is the query terms'
      // filtered postings moving to their doc buckets (batch-sized); the
      // per-doc score pivot reuses the join's partitioning, and the rank
      // window rides TakeOrderedAndProject's single partition
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"only the filtered postings may shuffle:\n$p")
      // and the scores equal the plain parquet-index probe bit-for-bit
      val plainDir = Files.createTempDirectory("graft_bm25p").toString
      Retrieval.saveBm25Index(corpus, "doc_id", "text", plainDir)
      val plain = Retrieval.bm25Probe(
        Retrieval.loadBm25Index(spark, plainDir),
        Seq("table", "query", "spark"), 10)
      assert(probe.collect().toSeq == plain.collect().toSeq)
      // append keeps the layout and the catalog's bucket spec
      Retrieval.appendToBm25IndexBucketed(
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 300),
        "doc_id", "text", "bm25_idx", dir)
      val spec = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("bm25_idx_postings"))
        .bucketSpec
      assert(spec.exists(_.numBuckets == 8), s"bucket spec kept: $spec")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bm25_idx_postings")
      spark.sql("DROP TABLE IF EXISTS bm25_idx_lens")
    }
  }

  test("bucketed bm25 append commits its meta delta on a versioned meta dir") {
    import graft.functions.{Dedup, Retrieval, SnapshotDir}
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
    val dir = Files.createTempDirectory("graft_bm25bv").toString
    try {
      Retrieval.saveBm25IndexBucketed(corpus, "doc_id", "text",
        "bm25_idxv", dir, nBuckets = 8)
      // the data tables are catalog-owned; the meta delta ledger is an
      // ordinary table, versioned from the save on
      assert(SnapshotDir.versions(spark, s"$dir/meta") == Seq(1L))
      Retrieval.appendToBm25IndexBucketed(
        batch, "doc_id", "text", "bm25_idxv", dir)
      // the delta must be MANIFEST-visible, not a raw-append orphan a
      // snapshot reader never sees (and gc would reclaim)
      val manifestN = spark.read
        .parquet(Dedup.snapshotFiles(spark, s"$dir/meta"): _*)
        .agg(org.apache.spark.sql.functions.sum("n_docs_delta"))
        .collect().head.getLong(0)
      assert(manifestN == corpus.count() + batch.count(),
        s"append's meta delta missing from the pinned snapshot: $manifestN")
      // and the loader reads meta through the same pinned manifest
      val idx = Retrieval.loadBm25IndexBucketed(spark, "bm25_idxv", dir)
      assert(idx.nDocs == corpus.count() + batch.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS bm25_idxv_postings")
      spark.sql("DROP TABLE IF EXISTS bm25_idxv_lens")
    }
  }
}
