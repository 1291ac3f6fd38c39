package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale stress harness: synthesizes an N-row corpus with `spark.range`
  * (distributed generation — no driver materialization, no test-data
  * dependency) and times the core curation operators on it. The point is
  * the SHAPE of the numbers, not the numbers: doubling N should roughly
  * double each time (linear operators), driver memory stays flat, and
  * nothing collects row data.
  *
  * Run: SPARK_GRAFT_STRESS_N=5000000 sbt "runMain graft.Stress"
  * Prints one JSON line per op: {"op":…,"n":…,"sec":…}.
  */
object Stress {

  /** Deterministic synthetic documents: ~40-token texts drawn from a small
    * vocabulary by hashing (id, position) — same id ⇒ same text, duplicate
    * texts injected every 1000 ids for the dedup paths.
    */
  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val vocabSize = 5000
    val docBase = spark.range(n).toDF("doc_id")
      // duplicates: every 1000th doc repeats doc 0's text seedwise
      .withColumn("seed", when(col("doc_id") % 1000 === 0, lit(0L))
        .otherwise(col("doc_id")))
    docBase.withColumn("text",
      concat_ws(" ",
        transform(sequence(lit(1), lit(40)),
          i => concat(lit("w"),
            pmod(xxhash64(col("seed"), i), lit(vocabSize)).cast("string")))))
      .drop("seed")
  }

  def synthEvents(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).toDF("event_id")
      .withColumn("user_id", pmod(xxhash64(col("event_id")), lit(100000L)))
      .withColumn("ts", timestamp_seconds(
        lit(1700000000L) + pmod(xxhash64(col("event_id"), lit(1)), lit(86400L * 30))))
      .withColumn("value",
        (pmod(xxhash64(col("event_id"), lit(2)), lit(10000L)) / 100.0))

  /** Min-of-N like Bench: this host shows intermittent multi-second
    * noisy-neighbor stalls (measured 10× swings on identical plans), and
    * wall-clock noise is one-sided — the minimum is the true cost. */
  private val repeats = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPEATS", "2").toInt

  /** Optional comma-separated op filter (SPARK_GRAFT_STRESS_ONLY) so a
    * scaling sweep (same op at several N) doesn't pay for the full suite.
    */
  private val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_STRESS_ONLY").map(_.split(",").map(_.trim).toSet)

  private def time(name: String, n: Long)(df: => DataFrame): Unit =
    timeBody(name, n) {
      df.write.format("noop").mode("overwrite").save()
    }

  /** For imperative drivers (the BPE training loop) that are not a single
    * DataFrame write. */
  private def timeBody(name: String, n: Long)(body: => Unit): Unit = {
    if (only.exists(!_.contains(name))) return
    var best = Double.MaxValue
    var i = 0
    while (i < repeats) {
      val t0 = System.nanoTime()
      body
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      i += 1
    }
    println(f"""{"op":"$name","n":$n,"sec":$best%.2f}""")
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STRESS_N", "2000000").toLong
    val spark = LocalSpark.session()

    val docs = synthDocs(spark, n)
    val events = synthEvents(spark, n)

    time("exact_dedup", n) {
      graft.functions.Dedup.exactDupGroups(docs, "doc_id", "text")
    }
    time("repetition_kernel", n) {
      docs.select(col("doc_id"),
        graft.functions.TextAnalysis.repetitionSignals(col("text")).as("r"))
    }
    time("repetition_exploded", n / 10) { // shuffle-bound twin: run at n/10
      graft.functions.TextAnalysis.repetitionFeatures(
        docs.filter(col("doc_id") < n / 10), "doc_id", "text")
    }
    time("quality", n) {
      docs.select(col("doc_id"),
        graft.functions.TextAnalysis.qualityFeatures(col("text")).as("q"))
    }
    time("simhash", n) {
      docs.select(col("doc_id"),
        graft.functions.Dedup.simhash(
          graft.functions.TextAnalysis.tokens(col("text"))).as("sh"))
    }
    time("packing", n) {
      graft.functions.Packing.packSequences(
        docs.select(col("doc_id"),
          graft.functions.TextAnalysis.tokenCount(col("text"))
            .cast("bigint").as("n_tokens")),
        "doc_id", "n_tokens", budget = 2048L)
    }
    time("minhash_lsh", n / 10) { // candidate-pair op: run at n/10
      graft.functions.Dedup.minhashDupPairs(
        docs.filter(col("doc_id") < n / 10), "doc_id", "text")
    }
    time("rolling_window", n) {
      graft.functions.Temporal.rollingWindow(
        events, "user_id", "ts", 3600L, "value")
    }
    time("sessionize", n) {
      graft.functions.Sessionize.sessions(
        events, "user_id", "ts", gapSeconds = 1800L, valueCol = "value")
    }
    time("corpus_shuffle", n) {
      graft.functions.Sampling.shuffleOrder(docs.select("doc_id"), "doc_id", 3L)
    }
    // KQL spine at scale: per-row array subquery (explode + rid groupBy)
    // and hierarchical top-k (two aggs + broadcast join + bounded windows)
    time("kql_mv_apply", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("docs", docs)
      graft.kql.Kql.run(spark, cat,
        """docs
          | | extend toks = split(text, ' ')
          | | mv-apply t = toks on (where strlen(t) > 4 | summarize n = count())
          |""".stripMargin)
    }
    time("kql_top_nested", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events.withColumn("etype",
        concat(lit("t"), pmod(col("user_id"), lit(50)).cast("string"))))
      graft.kql.Kql.run(spark, cat,
        """ev
          | | top-nested 5 of etype by n1 = count(),
          |   top-nested 3 of user_id by n2 = count()
          |""".stripMargin)
    }
    // round-5 second wave: per-key windows, sequence matching, and series
    // at ~100k keys — one hash shuffle each, no SinglePartition stage
    time("kql_partition_windows", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events)
      graft.kql.Kql.run(spark, cat,
        """ev | partition by user_id (sort by ts asc, event_id asc
          |     | extend rk = row_number(),
          |              cum = row_cumsum(toint(bin(value, 1.0)))
          |     | take 5)""".stripMargin)
    }
    time("kql_scan_funnel", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events.withColumn("etype",
        concat(lit("t"), pmod(col("event_id"), lit(3)).cast("string"))))
      graft.kql.Kql.run(spark, cat,
        """ev | partition by user_id (sort by ts asc, event_id asc
          |     | scan with (step s1: etype == 't0'; step s2: etype == 't1'))
          |""".stripMargin)
    }
    time("kql_make_series", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events)
      graft.kql.Kql.run(spark, cat,
        "ev | make-series c = count() on ts step 1d by user_id")
    }
    // round-6: the per-step scan machine with a 3-step pattern — the
    // shape where concurrent partial matches actually arise (a new
    // sequence starts at s1 while another waits at s2); state is 3 longs
    // per key, work is one boolean-column pass + the per-key walk
    time("kql_scan_3step", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events.withColumn("etype",
        concat(lit("t"), pmod(col("event_id"), lit(5)).cast("string"))))
      graft.kql.Kql.run(spark, cat,
        """ev | partition by user_id (sort by ts asc, event_id asc
          |     | scan with (step s1: etype == 't0'; step s2: etype == 't1';
          |                  step s3: etype == 't2'))""".stripMargin)
    }
    // round-6: variant group keys at scale — one VariantSortKey binary
    // encoding per row (recursive walk, no JSON re-serialization), then
    // an ordinary hash aggregate on the byte key
    time("variant_group_key", n) {
      val cat = new graft.kql.Catalog(spark)
      val m = pmod(col("event_id"), lit(4L))
      val u = pmod(col("user_id"), lit(1000L)).cast("string")
      val payload = when(m === 0, u)
        .when(m === 1, concat(lit("\""), u, lit("\"")))
        .when(m === 2, concat(lit("["), u, lit(",2]")))
        .otherwise(concat(lit("{\"a\":"), u, lit("}")))
      cat.register("ev", events.withColumn("p", payload))
      graft.kql.Kql.run(spark, cat,
        """ev | extend v = todynamic(p)
          | | summarize n = count() by k = v
          | | top 100 by n desc""".stripMargin)
    }
    // round-6 second wave: the new steps at corpus scale. tdigest is the
    // mergeable-rollup shape (sketch per 100k users, merge to one);
    // reduce/parse-kv are map-side passes + one hash agg; sample is a
    // TakeOrderedAndProject; fork shares the parent subtree across
    // branches.
    time("kql_tdigest_rollup", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events)
      graft.kql.Kql.run(spark, cat,
        """ev | summarize td = tdigest(value) by user_id
          | | summarize m = merge_tdigest(td)
          | | project p50 = percentile_tdigest(m, 50),
          |           p99 = percentile_tdigest(m, 99)""".stripMargin)
    }
    time("kql_reduce_by", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("docs", docs)
      graft.kql.Kql.run(spark, cat,
        "docs | reduce by text | top 100 by Count desc")
    }
    time("kql_parse_kv", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events.withColumn("s",
        concat(lit("u="), col("user_id"), lit("; v="), col("value"))))
      graft.kql.Kql.run(spark, cat,
        """ev | parse-kv s as (u: long, v: real)
          |   with (pair_delimiter=';', kv_delimiter='=')
          | | summarize su = sum(u), sv = sum(v)""".stripMargin)
    }
    time("kql_sample", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events)
      graft.kql.Kql.run(spark, cat, "ev | sample 1000")
    }
    time("kql_fork_facet", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events.withColumn("etype",
        concat(lit("t"), pmod(col("event_id"), lit(7)).cast("string"))))
      graft.kql.Kql.run(spark, cat,
        """ev | fork a = (facet by etype)
          |       b = (summarize n = count() by etype
          |            | project facet_column = 'x',
          |                      value = etype, count_ = n)""".stripMargin)
    }
    // round-6 third wave. basket expands each row 2^3−1 subsets into ONE
    // hash agg (map-side combine collapses to the distinct-segment
    // space); sequence_detect is two linear as-of passes; lm_quality is
    // the bigram join + integer-exact per-doc sums; edit-dups adds a
    // Levenshtein verify on the LSH candidate set; semdedup is the
    // cell-keyed pairwise prune over synthetic embeddings
    time("kql_basket", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events
        .withColumn("etype",
          concat(lit("t"), pmod(col("event_id"), lit(7)).cast("string")))
        .select(col("etype"),
          pmod(col("user_id"), lit(20L)).as("ubucket"),
          pmod(col("event_id"), lit(5L)).as("m5")))
      graft.kql.Kql.run(spark, cat, "ev | evaluate basket(0.01)")
    }
    time("kql_sequence_detect", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events.withColumn("etype",
        concat(lit("t"), pmod(col("event_id"), lit(3)).cast("string"))))
      graft.kql.Kql.run(spark, cat,
        """ev | extend a = etype == 't0', b = etype == 't1', c = etype == 't2'
          | | evaluate sequence_detect(ts, 1h, 2h, a, b, c, user_id)
          |""".stripMargin)
    }
    time("lm_quality", n / 4) { // bigram join + rank: run at n/4
      graft.functions.TextAnalysis.lmQuality(
        docs.filter(col("doc_id") < n / 4)
          .withColumn("grp", pmod(col("doc_id"), lit(8L))),
        "doc_id", "text", "grp")
    }
    time("edit_dups", n / 10) { // candidate-pair op: run at n/10
      graft.functions.Dedup.editDistancePairs(
        docs.filter(col("doc_id") < n / 10), "doc_id", "text", maxDist = 20)
    }
    time("semdedup", math.min(n, 200000L)) { // k×dim centroid sweep + prune
      val m = math.min(n, 200000L)
      val emb = spark.range(m).toDF("vec_id")
        .withColumn("embedding",
          transform(sequence(lit(1), lit(32)), i =>
            (pmod(xxhash64(pmod(col("vec_id"), lit(5000L)), i), lit(2000L))
              .cast("double") / 1000.0 - 1.0).cast("float")))
      graft.functions.Similarity.semDedup(
        emb, "vec_id", "embedding", threshold = 0.95, nCells = 64)
    }
    // round-8: the r7 heavyweights at stress scale (the gate evidence is
    // sf0.1-only). Fan-outs are FIXED BY CONSTRUCTION so the expected
    // rows-shuffled is computable, and a time super-linear in n would
    // expose a shape defect:
    //  - graph var-length: avg out-degree 2 (n edges over n/2 nodes) ⇒
    //    trails ≈ n·(1+2+4) = 7n rows through the hop joins, linear at
    //    fixed degree
    //  - activity_engagement 1d/7d: explode fan-out = outer/inner = 7
    //    rows per activity bin, then one keyed dcount
    //  - line dedup: 20 2-token lines per 40-token doc ⇒ 20× explode,
    //    min-struct partial agg keyed by line, doc-keyed rebuild
    time("graph_varlen", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("edges", spark.range(n).toDF("eid")
        .withColumn("s", pmod(xxhash64(col("eid")), lit(n / 2)))
        .withColumn("d", pmod(xxhash64(col("eid"), lit(1)), lit(n / 2))))
      graft.kql.Kql.run(spark, cat,
        """edges | make-graph s --> d
          | | graph-match (a)-[p*1..3]->(b)
          |     project x = tolong(a.id), hops = array_length(p)
          | | summarize n = count() by hops""".stripMargin)
    }
    time("activity_engagement", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("ev", events)
      graft.kql.Kql.run(spark, cat,
        """ev | evaluate activity_engagement(user_id, ts, 1d, 7d)
          |""".stripMargin)
    }
    time("line_dedup", n / 4) {
      val quarter = docs.filter(col("doc_id") < n / 4)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.tokens(col("text")).as("__toks"))
      val lines = transform(
        sequence(lit(0L), ceil(size(col("__toks")) / 2.0).cast("long") - 1L),
        i => concat_ws(" ", slice(col("__toks"), (i * 2 + 1).cast("int"), lit(2))))
      graft.functions.Dedup.lineDedup(
        quarter.select(col("doc_id"), lines.as("__lines")),
        "doc_id", col("__lines"))
    }
    time("substring_dedup", n / 4) {
      val quarter = docs.filter(col("doc_id") < n / 4)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.tokens(col("text")).as("__t"))
      graft.functions.Dedup.substringDedup(quarter, "doc_id", col("__t"), 10)
    }
    // round-9 stress rows.
    //  - substring_dedup_skew: EVERY doc opens with the same 14-token
    //    boilerplate banner, planting shingle keys repeated n/4 times —
    //    the exact hot-key shape the r9 agg+join-back winner rewrite
    //    targets (a window would funnel all copies into one partition;
    //    the partial min-struct agg combines them map-side)
    time("substring_dedup_skew", n / 4) {
      val banner = concat_ws(" ",
        (0 until 14).map(i => lit(s"boiler$i")): _*)
      val quarter = docs.filter(col("doc_id") < n / 4)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.tokens(
            concat(banner, lit(" "), col("text"))).as("__t"))
      graft.functions.Dedup.substringDedup(quarter, "doc_id", col("__t"), 10)
    }
    //  - graph_spath: min-hop shortest paths over the same n-edge graph
    //    as graph_varlen (bounded trail union + min-hop window, never a
    //    transitive closure)
    time("graph_spath", n) {
      val cat = new graft.kql.Catalog(spark)
      cat.register("edges", spark.range(n).toDF("eid")
        .withColumn("s", pmod(xxhash64(col("eid")), lit(n / 2)))
        .withColumn("d", pmod(xxhash64(col("eid"), lit(1)), lit(n / 2))))
      graft.kql.Kql.run(spark, cat,
        """edges | make-graph s --> d
          | | graph-shortest-paths (a)-[p*1..3]->(b)
          |     where a.id < 100 and b.id < 1000
          |     project x = tolong(a.id), y = tolong(b.id),
          |             hops = array_length(p)
          | | summarize n = count() by hops""".stripMargin)
    }
    //  - bpe_train: FIXED vocab (the 5000-word synth vocabulary; corpus
    //    size only feeds the word-count agg), nMerges=200. The batch=8
    //    variant is the sweep-batched path — same data scale, ~8× fewer
    //    sequential Spark jobs
    lazy val bpeWords = docs.filter(col("doc_id") < n / 4)
      .select(explode(graft.functions.TextAnalysis.tokens(col("text")))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("wt"))
      .localCheckpoint()
    timeBody("bpe_train_b1", n / 4) {
      graft.functions.Bpe.train(spark, bpeWords, "word", "word", "wt",
        nMerges = 200, batch = 1).count()
    }
    timeBody("bpe_train_b8", n / 4) {
      graft.functions.Bpe.train(spark, bpeWords, "word", "word", "wt",
        nMerges = 200, batch = 8).count()
    }
    //  - multimodal_decode: real PNG encode+decode round-trips at 10× the
    //    gate fixture count (5000 vs 500); narrow, shuffle-free — time
    //    should scale with the image count and nothing else
    time("multimodal_decode", 5000L) {
      import spark.implicits._
      val media = spark.range(5000L).toDF("doc_id")
        .select(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(16))).cast("int"),
          (lit(8) + pmod(col("doc_id") * 3, lit(16))).cast("int"))
        .as[(Long, Int, Int)]
        .mapPartitions { rows =>
          rows.map { case (id, w, h) =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rr = ((id * 7 + 3L * x + 5L * y) % 256).toInt
                val gg = ((id * 11 + 2L * x + 7L * y) % 256).toInt
                val bb = ((id * 13 + x + 4L * y) % 256).toInt
                img.setRGB(x, y, (rr << 16) | (gg << 8) | bb)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            graft.multimodal.Multimodal.MediaRow(
              id, "image", bos.toByteArray, w, h, 0L)
          }
        }
      graft.multimodal.Multimodal.decodeImageStats(media).toDF()
    }
    //  - ann_pq: PQ codebook learn + encode + 5-query ADC scan over
    //    synthetic 32-dim embeddings at n/10 (the semdedup generator);
    //    vocab-bounded collects only, so time tracks the two corpus
    //    passes (assign + refine-encode)
    time("ann_pq", n / 10) {
      val m10 = n / 10
      val emb = spark.range(m10).toDF("vec_id")
        .withColumn("embedding",
          transform(sequence(lit(1), lit(32)), i =>
            (pmod(xxhash64(pmod(col("vec_id"), lit(5000L)), i), lit(2000L))
              .cast("double") / 1000.0 - 1.0).cast("float")))
      graft.functions.Similarity.pqTopK(
        emb.filter(col("vec_id") < 5), emb,
        "vec_id", "vec_id", "embedding", 10, m = 8, ksub = 16)
    }
    // round-14: public k-means (4 Lloyd sweeps, k=64) over the ann_pq
    // synthetic embeddings at n/10 — per sweep one narrow corpus scan
    // against broadcast centroids + a (k × dim)-bounded partial-agg
    // mean; cost = sweeps + 1 scans, linear in rows. ≤2× at 2× rows.
    time("kmeans", n / 10) {
      val m10 = n / 10
      val emb = spark.range(m10).toDF("vec_id")
        .withColumn("embedding",
          transform(sequence(lit(1), lit(32)), i =>
            (pmod(xxhash64(pmod(col("vec_id"), lit(5000L)), i), lit(2000L))
              .cast("double") / 1000.0 - 1.0).cast("float")))
      graft.functions.Similarity.kmeansAssign(
        emb, "vec_id", "embedding", k = 64, sweeps = 4)
    }
    // round-15: the within-cluster objective under a FROZEN model — one
    // narrow corpus scan + a broadcast k-row centroid join + one
    // k-bounded integer aggregate. Linear in rows; ≤2× at 2×.
    timeBody("kmeans_objective", n / 10) {
      val m10 = n / 10
      val emb = spark.range(m10).toDF("vec_id")
        .withColumn("embedding",
          transform(sequence(lit(1), lit(32)), i =>
            (pmod(xxhash64(pmod(col("vec_id"), lit(5000L)), i), lit(2000L))
              .cast("double") / 1000.0 - 1.0).cast("float")))
      val cents = graft.functions.Similarity.kmeansTrain(
        emb, "vec_id", "embedding", k = 64, sweeps = 0)
      graft.functions.Similarity.kmeansObjective(emb, "embedding", cents)
        .write.format("noop").mode("overwrite").save()
    }
    // round-15: nearest-class-centroid classification — train on an
    // n/100 labeled slice (one exact-sum pass + a |classes|-row
    // collect), classify the corpus in ONE narrow codegen'd pass (the
    // model rides as literals — no join, no shuffle). Linear; ≤2× at 2×.
    timeBody("centroid_classify", n / 10) {
      val m10 = n / 10
      val emb = spark.range(m10).toDF("vec_id")
        .withColumn("embedding",
          transform(sequence(lit(1), lit(32)), i =>
            (pmod(xxhash64(pmod(col("vec_id"), lit(5000L)), i), lit(2000L))
              .cast("double") / 1000.0 - 1.0).cast("float")))
      val model = graft.functions.Similarity.centroidTrain(
        emb.filter(col("vec_id") % 100 === 0)
          .withColumn("lab", pmod((col("vec_id") / 100).cast("long"),
            lit(8L)).cast("string")),
        "embedding", "lab")
      graft.functions.Similarity.centroidClassify(
        emb, "vec_id", "embedding", model)
        .write.format("noop").mode("overwrite").save()
    }
    //  - graph_scomp: SCC over a DIRECTED random graph at n/10 edges —
    //    iterative (outer refinement × directed label propagation), so
    //    the cost is rounds × (join + agg); random directed graphs at
    //    avg degree 2 have one giant SCC + small tails, keeping rounds
    //    logarithmic
    timeBody("graph_scomp", n / 10) {
      val e10 = n / 10
      val edges = spark.range(e10).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(e10 / 2)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(e10 / 2)))
        .select("src", "dst")
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      graft.functions.Graph.stronglyConnectedComponents(
        verts, edges, maxOuter = 20, maxInner = 60)
        .write.format("noop").mode("overwrite").save()
    }
    // round-10 stress row: incremental MinHash near-dup with the corpus
    // index PREBUILT outside the timed block (the stored index of the
    // production shape — r10 review fix: timing the 90k-doc index build
    // inside every repeat measured corpus-side work, damping the ratio)
    // and only the probing batch scaling with n (n/100 docs) — the
    // contract under test is "probe cost ∝ batch, never corpus"
    lazy val minhashIdx = {
      val idx = graft.functions.Dedup.minhashIndex(
        docs.filter(col("doc_id") < 90000L), "doc_id", "text")
      idx.buckets.write.format("noop").mode("overwrite").save()
      idx
    }
    // force the index build BEFORE the timed block (same only-filter
    // guard as timeBody) — with SPARK_GRAFT_STRESS_REPEATS=1 a lazy val
    // first forced inside the timed body would re-include the corpus
    // build the prebuilt-index contract excludes
    if (!only.exists(!_.contains("incr_minhash"))) { val _ = minhashIdx }
    time("incr_minhash", n / 100) {
      val batch = docs.filter(
        col("doc_id") >= 90000L && col("doc_id") < 90000L + n / 100)
      graft.functions.Dedup.incrementalMinhashDedup(
        batch, minhashIdx, "doc_id", "text",
        n = 3, k = 64, rowsPerBand = 4, threshold = 0.8)
    }
    // round-11 stress row: persisted-index APPEND cost must track the
    // batch, never the corpus — the 90k-doc index is saved once OUTSIDE
    // the timed block; the timed body computes and appends only the
    // batch's sets/band tuples (pl_index_update's nightly lifecycle step)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-stress-idx").toString
    if (!only.exists(!_.contains("index_append")))
      graft.functions.Dedup.saveMinhashIndex(minhashIdx, idxDir)
    timeBody("index_append", n / 100) {
      val batch = docs.filter(
        col("doc_id") >= 90000L && col("doc_id") < 90000L + n / 100)
      graft.functions.Dedup.appendToMinhashIndex(spark, idxDir,
        batch, "doc_id", "text")
    }
    // round-12 stress row: persisted-PQ APPEND must track the batch —
    // codebooks are trained + saved ONCE outside the timed block (the
    // pl_ann_pq_update lifecycle's train step); the timed body reads only
    // the bounded books table and encodes/appends the batch's code rows
    // in one narrow map pass (never touching the 20k-vector corpus codes)
    def synthEmb(rows: Long, offset: Long): DataFrame =
      spark.range(rows).toDF("i")
        .select((col("i") + offset).as("vec_id"))
        .withColumn("embedding",
          transform(sequence(lit(1), lit(32)), i =>
            (pmod(xxhash64(pmod(col("vec_id"), lit(5000L)), i), lit(2000L))
              .cast("double") / 1000.0 - 1.0).cast("float")))
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft-stress-pq").toString
    if (!only.exists(!_.contains("pq_append")))
      graft.functions.Similarity.savePqIndex(
        graft.functions.Similarity.pqIndex(
          synthEmb(20000L, 0L), "vec_id", "embedding"), pqDir)
    timeBody("pq_append", n / 100) {
      graft.functions.Similarity.appendToPqIndex(spark, pqDir,
        synthEmb(n / 100, 1000000L), "vec_id", "embedding")
    }
    // round-13 stress row: hard-negative mining from a PERSISTED
    // IVF-PQ index — the index over a CORPUS THAT SCALES with n (n/10
    // vectors) is trained + saved ONCE outside the timed block; the
    // timed body mines k=10 negatives for an n/2000-anchor batch. Time
    // must track the anchor batch (pool = anchors × rerank refine
    // reads) plus the pruned ADC scan (~nProbe/nCells of the codes) —
    // NEVER the all-pairs anchors × corpus cosine of the exact
    // baseline. Doubling n roughly doubles both terms (corpus and
    // batch both scale), so the row's scaling stays ≈linear where the
    // brute-force form would be quadratic.
    def synthLabeled(rows: Long, offset: Long): DataFrame =
      synthEmb(rows, offset)
        .withColumn("label", pmod(col("vec_id"), lit(5L)))
    val hnDir = java.nio.file.Files
      .createTempDirectory("graft-stress-hn").toString
    if (!only.exists(!_.contains("hard_neg_ann")))
      graft.functions.Similarity.saveIvfPqIndex(
        graft.functions.Similarity.ivfPqIndex(
          synthLabeled(n / 10, 0L), "vec_id", "embedding"), hnDir)
    time("hard_neg_ann", n / 2000) {
      graft.functions.Similarity.hardNegativesFromIndex(
        synthLabeled(n / 2000, 0L),
        graft.functions.Similarity.loadIvfPqIndex(spark, hnDir),
        synthLabeled(n / 10, 0L), "vec_id", "vec_id", "embedding",
        "label", k = 10, nProbe = 4, rerank = 30)
    }
    // round-12 stress rows: the persisted BM25 inverted index over a
    // corpus that SCALES with n (9n/10 docs, saved ONCE outside the
    // timed blocks). APPEND tokenizes and writes only the n/100-doc
    // batch, so its time must track the batch, not the corpus; PROBE
    // cost tracks the query terms' matched postings (pushed token
    // filter) — ~0.8% of the corpus per term at this vocabulary, so the
    // probe may grow with the index but far below the corpus scan it
    // replaces.
    val bm25CorpusN = n * 9 / 10
    val bm25Dir = java.nio.file.Files
      .createTempDirectory("graft-stress-bm25").toString
    if (!only.exists(o => !o.contains("bm25_append") && !o.contains("bm25_probe")))
      graft.functions.Retrieval.saveBm25Index(
        docs.filter(col("doc_id") < bm25CorpusN), "doc_id", "text", bm25Dir)
    timeBody("bm25_append", n / 100) {
      val batch = docs.filter(col("doc_id") >= bm25CorpusN &&
        col("doc_id") < bm25CorpusN + n / 100)
      graft.functions.Retrieval.appendToBm25Index(
        batch, "doc_id", "text", bm25Dir)
    }
    time("bm25_probe", n) {
      graft.functions.Retrieval.bm25Probe(
        graft.functions.Retrieval.loadBm25Index(spark, bm25Dir),
        Seq("w1", "w42", "w123"), 20)
    }
    // round-13: near-dup contamination — benchmark sets + band buckets
    // broadcast (fixed at 500 docs), the corpus side computes shingles/
    // signature/bands and Jaccard-verifies map-side; linear in corpus
    time("contam_neardup", n / 4) {
      graft.functions.Dedup.contaminationNearDup(
        docs.filter(col("doc_id") < n / 4), "doc_id", "text",
        docs.filter(col("doc_id") < 500)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")),
        "doc_id", "text", threshold = 0.4)
    }
    // round-10: span decontamination — benchmark k-grams broadcast, hits
    // are a map-side semi probe of the exploded corpus shingles; time
    // should track the corpus linearly (benchmark fixed at 500 docs)
    time("decontam_spans", n / 4) {
      val quarter = docs.filter(col("doc_id") < n / 4)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.tokens(col("text")).as("__t"))
      val bench = docs.filter(col("doc_id") < 500)
        .select(slice(
          graft.functions.TextAnalysis.tokens(col("text")), 6, 12).as("__bt"))
      graft.functions.Dedup.decontaminateSpans(
        quarter, "doc_id", col("__t"), bench, col("__bt"), k = 8)
    }
    // round-10: z-order clustering key — one bounded min/max agg + a
    // map-side interleave; linear by construction
    time("zorder_key", n) {
      val (keyed, _) = graft.functions.Layout.zOrderKey(
        events.select("event_id", "user_id"),
        Seq("event_id", "user_id"), bits = 16)
      keyed
    }
    // round-10: degree-oriented triangle counting — at fixed avg degree
    // the oriented wedge count is bounded per vertex, so time should
    // scale near-linearly with edges
    time("triangles", n / 2) {
      val m = n / 2
      val edges = spark.range(m).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(m / 4)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(m / 4)))
        .select("src", "dst")
      graft.functions.Graph.triangleCounts(edges)
    }
    // round-10: integer PageRank, 5 fixed iterations — cost is
    // iters × (join + partial-agg), linear in edges at fixed iters
    timeBody("pagerank", n / 2) {
      val m = n / 2
      val edges = spark.range(m).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(m / 4)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(m / 4)))
        .select("src", "dst")
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      graft.functions.Graph.pageRank(verts, edges, iters = 5)
        .write.format("noop").mode("overwrite").save()
    }
    // round-11: k-core decomposition — ascending-k peeling on the same
    // random graph; each vertex peels once overall, each round is one
    // in-set degree agg + filter, so total time tracks edges × peel
    // cascade depth (shallow on random graphs at fixed avg degree)
    timeBody("kcore", n / 2) {
      val m = n / 2
      val edges = spark.range(m).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(m / 4)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(m / 4)))
        .select("src", "dst")
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      graft.functions.Graph.coreNumbers(verts, edges)
        .write.format("noop").mode("overwrite").save()
    }
    // round-12: label-propagation communities — fixed 4 rounds, each one
    // edge⋈label shuffle + counted argmax; linear in edges at fixed
    // iterations (PageRank's cost model with an extra agg per round)
    timeBody("lpa", n / 2) {
      val m = n / 2
      val edges = spark.range(m).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(m / 4)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(m / 4)))
        .select("src", "dst")
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      graft.functions.Graph.labelPropagation(verts, edges, iterations = 4)
        .write.format("noop").mode("overwrite").save()
    }
    // round-12: modularity scoring over a synthetic 1000-community
    // assignment (a pure projection, so the timing isolates the metric's
    // own joins/aggregates): two label joins + three partial-agg counts,
    // no iteration — linear in edges
    time("modularity", n / 2) {
      val m = n / 2
      val edges = spark.range(m).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(m / 4)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(m / 4)))
        .select("src", "dst")
      val labels = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
        .select(col("id"), (col("id") % 1000).as("community"))
      graft.functions.Graph.modularity(labels, edges)
    }
    // round-13: one-level Louvain refinement over the same synthetic
    // assignment — one neighbor-community count (two shuffles, map-side
    // combine on hub skew), bounded community aggregates on broadcast
    // joins, one per-vertex argmax. Linear in edges; ≤2× at 2× edges.
    time("louvain_refine", n / 2) {
      val m = n / 2
      val edges = spark.range(m).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(m / 4)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(m / 4)))
        .select("src", "dst")
      val labels = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
        .select(col("id"), (col("id") % 1000).as("community"))
      graft.functions.Graph.louvainRefine(labels, edges)
    }
    // round-13: two-level Louvain — refine + condense + the weighted
    // super-graph pass; the condense is the modularity cost model (two
    // label joins + one partial-agg count) and the level-2 pass runs on
    // the 1000-super-vertex graph, so the total should track the
    // level-1 pass. Linear in edges; ≤2× at 2× edges.
    time("louvain_two_level", n / 2) {
      val m = n / 2
      val edges = spark.range(m).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(m / 4)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(m / 4)))
        .select("src", "dst")
      val labels = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
        .select(col("id"), (col("id") % 1000).as("community"))
      graft.functions.Graph.louvainTwoLevel(labels, edges)
    }
    // round-14: Naive Bayes classification — train on a BOUNDED seed
    // slice (n/100 docs, 20 classes), classify the full corpus: one
    // tokenize + one vocab-keyed model join + one (doc, class) partial
    // agg. Corpus-linear; the model side is vocab-bounded. ≤2× at 2×.
    time("nb_classify", n) {
      // label from doc_id/100 — doc_id itself is fixed ≡ 0 (mod 100) by
      // the seed filter, so pmod(doc_id, 20) would collapse to ONE class
      val seed = docs.filter(col("doc_id") % 100 === 0)
        .withColumn("label",
          concat(lit("c"), pmod((col("doc_id") / 100).cast("long"),
            lit(20L)).cast("string")))
      val model = graft.functions.TextAnalysis.nbTrain(seed, "label", "text")
      graft.functions.TextAnalysis.nbClassify(docs, "doc_id", "text", model)
    }
    // round-15: the threshold curation filter — the nb_classify plan
    // plus one lead() in the already-present per-document window and a
    // margin filter. Same corpus-linear shape; ≤2× at 2×.
    time("nb_filter", n) {
      val seed = docs.filter(col("doc_id") % 100 === 0)
        .withColumn("label",
          concat(lit("c"), pmod((col("doc_id") / 100).cast("long"),
            lit(20L)).cast("string")))
      val model = graft.functions.TextAnalysis.nbTrain(seed, "label", "text")
      graft.functions.TextAnalysis.nbFilter(docs, "doc_id", "text", model,
        keepLabel = "c3", minMarginNano = 100000000L)
    }
    // round-16: the PERCENTILE curation filter — the nb_filter margin
    // plan plus exact cutoff learning: kthLargest's bounded histogram
    // passes (each one ≤65536-group aggregate over the checkpointed
    // narrow (id, margin) frame — never a global sort), then one
    // filter. The selection passes cost O(passes · scan of 16 B/row),
    // so the row scales with the classify pass alone. ≤2× at 2×.
    time("nb_filter_topfrac", n) {
      val seed = docs.filter(col("doc_id") % 100 === 0)
        .withColumn("label",
          concat(lit("c"), pmod((col("doc_id") / 100).cast("long"),
            lit(20L)).cast("string")))
      val model = graft.functions.TextAnalysis.nbTrain(seed, "label", "text")
      graft.functions.TextAnalysis.nbFilterTopFraction(
        docs, "doc_id", "text", model, keepLabel = "c3", fraction = 0.25)
    }
    // round-16: sort-free exact quantiles — 7 fractions over the
    // token-count column via shared bounded histogram passes (the
    // checkpointed narrow column scans a handful of times; driver
    // state one 65536-row histogram per pass). Corpus-linear; the
    // pass count is range-dependent, not n-dependent. ≤2× at 2×.
    timeBody("exact_quantiles", n) {
      graft.functions.Sampling.exactQuantiles(
        docs.select(col("doc_id"),
          graft.functions.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("nt")),
        "nt", Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))
    }
    // round-14: the connectivity diagnostic — two edge-endpoint joins
    // to restrict edges to same-community pairs, then one global CC run
    // (rounds bounded by the largest community's internal diameter) and
    // a count aggregate. Linear in edges modulo the CC round count,
    // which the random generator keeps small. ≤2× at 2× edges.
    time("community_connectivity", n / 2) {
      val m = n / 2
      val edges = spark.range(m).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(m / 4)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(m / 4)))
        .select("src", "dst")
      val labels = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
        .select(col("id"), (col("id") % 1000).as("community"))
      graft.functions.Graph.communityConnectivity(labels, edges)
    }
    // round-14: two-level Leiden — the louvain_two_level chain plus one
    // intra-community CC pass per level (the split repair). The CC cost
    // rides the connectivity shape above; everything else is the
    // Louvain row. ≤2× at 2× edges.
    time("leiden_two_level", n / 2) {
      val m = n / 2
      val edges = spark.range(m).toDF("eid")
        .withColumn("src", pmod(xxhash64(col("eid")), lit(m / 4)))
        .withColumn("dst", pmod(xxhash64(col("eid"), lit(1)), lit(m / 4)))
        .select("src", "dst")
      val labels = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
        .select(col("id"), (col("id") % 1000).as("community"))
      graft.functions.Graph.leidenTwoLevel(labels, edges)
    }
    time("url_canon_dedup", n) {
      val url = concat(lit("HTTPS://Site"),
        pmod(col("doc_id"), lit(100000L)).cast("string"),
        lit(".com:443/p/?utm_source=x&b=2&a=1#f"))
      docs.select(col("doc_id"),
        graft.functions.TextAnalysis.canonicalUrl(url).as("canon"))
        .groupBy("canon").agg(count(lit(1)).as("n"), min("doc_id").as("keep"))
    }
    spark.stop()
  }
}
