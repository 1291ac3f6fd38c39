package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is pure `Column` composition over higher-order functions
  * (codegen'd, shuffle-free, fully map-side) — the shape that scales to
  * 100 TB: no UDF serialization, no driver round-trips, trivially parallel
  * per partition.
  */
object TextAnalysis {

  /** Whitespace tokenization, empty tokens dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** BPE-ish subword pre-tokenization (GPT-2-style pattern classes:
    * letter runs, digit runs, punctuation runs — a deterministic proxy for
    * a real BPE vocab, which would slot in behind the same signature).
    */
  def bpeishTokens(text: Column): Column =
    filter(
      regexp_extract_all(text, lit("""[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]+"""), lit(0)),
      t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Common-English stopwords used by the quality heuristics. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "in", "and", "or", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that")

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => lower(t).isin(stopwords.map(lit): _*)))

  /** Punctuation-character ratio over total characters. */
  def punctRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("""[^\p{L}\p{N}\s]"""), lit(0)))
      .cast("double") / greatest(length(text), lit(1)).cast("double")

  /** Alphabetic-character ratio. */
  def alphaRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("""[\p{L}]"""), lit(0)))
      .cast("double") / greatest(length(text), lit(1)).cast("double")

  /** Document quality features as a struct: length, token stats, ratios.
    * Mirrors the usual pretraining-quality heuristics (length bounds,
    * mean token length, stopword density, punctuation density). Lowered to
    * the native single-pass [[graft.functions.QualityFeaturesExpr]]; the
    * Column form tokenized the document once per feature.
    */
  def qualityFeatures(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.QualityFeaturesExpr(expression(text)))
  }

  /** Reference Column-combinator form of [[qualityFeatures]] — the
    * differential-testing twin for the native kernel.
    */
  def qualityFeaturesColumnForm(text: Column): Column = {
    val toks = tokens(text)
    val nTok = greatest(size(toks), lit(1)).cast("double")
    struct(
      length(text).cast("bigint").as("n_chars"),
      size(toks).cast("bigint").as("n_tokens"),
      (aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
        .as("mean_token_len"),
      (stopwordCount(toks).cast("double") / nTok).as("stopword_ratio"),
      punctRatio(text).as("punct_ratio"),
      alphaRatio(text).as("alpha_ratio"))
  }

  /** Per-language marker-word profiles for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose — a broadcastable lookup; a real system
    * swaps in char-n-gram profiles behind the same argmax shape.
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "que", "pour"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"),
    "it" -> Seq("il", "di", "che", "la", "per", "un", "del", "una", "con", "sono"),
    "pt" -> Seq("o", "de", "que", "do", "da", "em", "um", "para", "com", "uma"))

  /** Language-ID: argmax of marker-word hit counts; 'und' when no marker
    * hits at all; ties won by the greatest code. Lowered to the native
    * single-pass [[graft.functions.LangId]] expression — the Column form
    * ([[langIdColumnForm]]) repeats tokenize+lower once per language.
    */
  def langId(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.LangId(expression(text)))
  }

  /** Reference Column-combinator form of [[langId]] — kept as the
    * differential-testing twin for the native kernel (LangIdSpec asserts
    * they agree on every document).
    */
  def langIdColumnForm(text: Column): Column = {
    val toks = transform(tokens(text), lower _)
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (code, words) =>
      struct(
        size(filter(toks, t => t.isin(words.map(lit): _*))).as("hits"),
        lit(code).as("code"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("code")).otherwise(lit("und"))
  }

  /** PII-bearing span patterns, written in the RE2-compatible subset
    * (character classes + bounded quantifiers, no backrefs/lookaround) so
    * the identical pattern runs in the DuckDB oracle and in any RE2-based
    * downstream scrubber.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+?[0-9][0-9-]{6,}[0-9]"

  /** Redact email addresses and phone-number-shaped digit runs — the
    * standard pre-training scrub pass. Pure map-side `regexp_replace`
    * chain: codegen'd, shuffle-free, linear in text size.
    */
  /** Dedup-normalization kernel (round 12) — the CCNet/RefinedWeb
    * pre-hash canonicalization: lowercase, digits → `0`, punctuation and
    * symbols stripped, whitespace collapsed. Hashing the NORMALIZED text
    * is what makes exact dedup catch the near-identical variants raw
    * hashing misses (case changes, punctuation edits, version numbers) —
    * every production pipeline normalizes before the hash, not after the
    * near-dup pass. Pure map-side Column composition (codegen'd
    * regexp_replace chain, no UDF, no shuffle); `\p{L}`/`\p{N}`/`\s` are
    * RE2-compatible so the DuckDB oracle replays the identical regexes
    * (the same parity the tokenizer gates already rely on). Accent
    * folding is intentionally out: it needs `java.text.Normalizer` (a
    * custom expression, not a regex) and the corpus is ASCII — the
    * MinHash oracle asserts exactly that. */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), "\\p{N}", "0"),
        "[^\\p{L}\\p{N}\\s]", ""),
      "\\s+", " "))

  def redactPII(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Order-sensitive rolling-hash document fingerprint over tokens,
    * lowered to the native single-pass [[graft.functions.PolyFingerprint]]
    * expression. The char-polynomial hash is chosen over xxhash64 so the
    * identical computation runs as plain SQL in the DuckDB oracle — the
    * gate query hash-verifies cross-engine instead of rows-only.
    */
  def fingerprint(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.PolyFingerprint(expression(tokens(text))))
  }

  /** Per-row repetition signals as a struct
    * (n_tokens, dup_token_frac, top_token_frac, top_bigram_frac) — the
    * native single-pass [[graft.functions.RepetitionExpr]] kernel. Fully
    * map-side (no corpus explode, no shuffle); value-identical to the
    * exploded [[repetitionFeatures]] twin, which RepetitionSpec pins.
    */
  def repetitionSignals(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.RepetitionExpr(expression(text)))
  }

  /** Repetition-based quality signals (the Gopher-rule family): how much
    * of a document is the same token or bigram repeated. High values mark
    * boilerplate / degenerate generations that length or stopword ratios
    * miss.
    *
    *   - `dup_token_frac`  — fraction of token occurrences beyond each
    *     token's first (1 − distinct/total)
    *   - `top_token_frac`  — share of the single most frequent token
    *   - `top_bigram_frac` — share of the most frequent adjacent bigram
    *     (0 for single-token docs)
    *
    * Shape at scale: explode + two-level groupBy — map-side partial
    * counts, one shuffle keyed by (doc, gram) then (doc), both
    * well-distributed (no global hot key). Linear in corpus tokens,
    * unlike the O(tokens²) nested-lambda HOF form.
    */
  def repetitionFeatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    val uni = toks.select(col(idCol), explode(col("toks")).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_c"))
    // greatest(…, 0): slice() throws on a negative length, which size-1
    // produces for empty-token documents (empty/whitespace-only text)
    val nBi = greatest(size(col("toks")) - 1, lit(0))
    val bi = toks.select(col(idCol),
        explode(zip_with(
          slice(col("toks"), lit(1), nBi),
          slice(col("toks"), lit(2), nBi),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(sum("c").as("n_bigrams"), max("c").as("top_bg_c"))
    uni.join(bi, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_tokens"),
        ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        (col("top_c").cast("double") / col("n_tokens")).as("top_token_frac"),
        coalesce(col("top_bg_c").cast("double") / col("n_bigrams"), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** BM25-style relevance ranking of documents against a bag-of-words
    * query — the search primitive of a log/document engine. Standard BM25
    * term saturation and length normalization (k1, b), with one deviation:
    * the idf factor is the RATIONAL (N − df + ½)/(df + ½), not its log —
    * log is monotonic, so per-term ordering is preserved, and the rational
    * form is a pure arithmetic tree over integers that evaluates
    * bit-identically in any engine (the DuckDB oracle hash-matches; a log
    * differs in the last ulp between libm implementations). Callers who
    * want the classical curve swap one projection.
    *
    * Per-document scores sum the terms in FIXED query order via one
    * conditional aggregate per term (each term contributes at most one row
    * per doc) — a floating sum over an unordered group would be
    * order-sensitive and nondeterministic under shuffles.
    *
    * Shape at scale: token explode → per-doc tf of query terms only
    * (filter BEFORE the shuffle — candidate rows ≤ |query| per doc), df
    * and corpus stats as broadcast one-row/`|query|`-row aggregates, then
    * a doc-keyed conditional aggregation and a bounded top-k window.
    */
  def bm25(
      docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // distinct: a repeated query term would otherwise sum its per-term
    // score once per occurrence and inflate those documents
    val terms = query.distinct
    require(terms.nonEmpty, "bm25 needs at least one query term")
    def tfc(t: String) = s"__tf_${terms.indexOf(t)}"
    def dfc(t: String) = s"__df_${terms.indexOf(t)}"
    // ONE pass over the token explode: per-doc length and one conditional
    // tf per query term (an earlier form scanned and exploded the corpus
    // twice — once for dl, once for tf — doubling the dominant cost)
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val perDoc = tok.groupBy(col(idCol)).agg(
      count(lit(1)).as("dl"),
      terms.map(t =>
        sum(when(col("token") === t, 1L).otherwise(0L)).as(tfc(t))): _*)
    // corpus size, total length, and every term's doc frequency in one
    // broadcast row
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum("dl").as("total_dl") +:
        terms.map(t =>
          sum(when(col(tfc(t)) > 0, 1L).otherwise(0L)).as(dfc(t))): _*)
    val scored = perDoc
      .crossJoin(broadcast(stats))
      .filter(terms.map(t => col(tfc(t)) > 0).reduce(_ || _))
      .withColumn("score",
        terms.map { t =>
          val tf = col(tfc(t))
          val idf = (col("n_docs") - col(dfc(t)) + 0.5) / (col(dfc(t)) + 0.5)
          when(tf > 0,
            idf * (tf * lit(k1 + 1.0)) /
              (tf + lit(k1) *
                (lit(1.0 - b) +
                  lit(b) * col("dl") * col("n_docs") / col("total_dl"))))
            .otherwise(lit(0.0))
        }.reduce(_ + _))
    // top-k FIRST (fuses to TakeOrderedAndProject — distributed heap),
    // then rank the surviving k rows; a global row_number window before
    // the cut would drag every scored doc through one task
    val top = scored.orderBy(col("score").desc, col(idCol).asc).limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col(idCol).asc)))
      .select(col(idCol), col("score"), col("rank"))
  }

  /** TF-IDF-style keyword extraction: the top-`k` most distinctive tokens
    * per document, scored `tf * N / df` (linear inverse document
    * frequency). The score stays in scaled BIGINT arithmetic
    * (`tf * N * 1e6 div df`) rather than `tf * ln(N/df)` doubles so it is
    * bit-exact across engines — the log only reshapes the weighting curve,
    * not the plan, and a caller who wants it swaps one projection.
    *
    * Plan shape at scale: one shuffle for per-document term counts
    * (groupBy doc,token — map-side partial agg), one for document
    * frequencies (groupBy token over the already-distinct tf rows), a
    * token-partitioned join against the |vocab|-sized df table (Catalyst
    * broadcasts it when it fits, AQE decides beyond), and a per-document
    * top-k window. The corpus size N joins in as a broadcast 1-row
    * aggregate — no driver-side count.
    */
  def keywords(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tf = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      // the product folds in decimal(38,0): tf·N·1e6 passes 2^63 already
      // at N ~ 1e9 docs with tf ~ 1e4 (ANSI overflow as a BIGINT); the
      // result re-narrows to BIGINT only after the division by df
      .withColumn("score",
        expr("CAST(CAST(tf AS DECIMAL(38,0)) * n_docs * 1000000 div df AS BIGINT)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("score"), col("rank"))
  }

  /** CCNet-style language-model quality scoring: an add-one-smoothed
    * bigram LM is fit on the corpus itself and every document is scored
    * by its average token log-probability, then bucketed into per-group
    * deciles (decile 0 = most LM-like — the head CCNet keeps, 9 = the
    * tail it drops).
    *
    * Determinism at scale: per-bigram log-probs round to INTEGER
    * nano-scaled longs before summing, so the per-document total is an
    * exact integer — invariant to partitioning/summation order (a raw
    * double sum would drift between runs once the bigram join scatters a
    * document's terms across partitions). Identical texts therefore get
    * byte-identical scores, and the decile rank breaks residual ties by
    * id.
    *
    * Shuffle shape: one explode (narrow) → two count aggregations (the
    * model, cardinality = distinct bigrams/unigrams, not rows) → one
    * bigram-keyed join → one per-doc aggregation → a per-group rank.
    * The model tables stay in the join (no driver collect); at 100 TB
    * the unigram side is broadcast-sized and AQE picks that up.
    *
    * @return (id, group, nb bigrams, scaled score sum, decile)
    */
  def lmQuality(
      docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"), col(groupCol).as("grp"),
      tokens(col(textCol)).as("__t"))
    val bigrams = toks
      .select(col("id"), col("grp"),
        explode(zip_with(col("__t"),
          slice(col("__t"), lit(2), size(col("__t"))),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
      // tokens are whitespace-split, so ' ' cannot occur inside one: the
      // space-joined pair is an unambiguous key, and the zip_with tail
      // (last token paired with null — concat_ws drops the null, so no
      // space) filters away; 1-token docs drop out (documented)
      .filter(col("bg").contains(" "))
    val c12 = bigrams.groupBy("bg").agg(count(lit(1)).as("c12"))
    val c1 = bigrams
      .select(substring_index(col("bg"), " ", 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = toks.select(explode(col("__t")).as("w"))
      .agg(count_distinct(col("w")).as("V"))
    val scored = bigrams
      .join(c12, "bg")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(c1, "w1")
      .crossJoin(broadcast(v))
      // add-one smoothing; ln of an exact rational, nano-scaled and
      // rounded to a long so the document sum is order-exact
      .withColumn("li",
        round(log((col("c12") + 1).cast("double") /
          (col("c1") + col("V")).cast("double")) * lit(1e9)).cast("long"))
      .groupBy("id", "grp")
      .agg(count(lit(1)).as("nb"), sum(col("li")).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp")
      .orderBy((col("s").cast("double") / col("nb")).desc, col("id").asc)
    val cnt = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    scored
      .withColumn("decile",
        (((row_number().over(w) - 1) * 10) / count(lit(1)).over(cnt))
          .cast("long"))
      .select(col("id"), col("grp"), col("nb"), col("s"), col("decile"))
  }

  /** A trained [[nbTrain]] model: `priors` is one row per class
    * (label, prior_nano, unseen_nano — broadcast-sized), `tokenLogProbs`
    * one row per (class, vocabulary token) — vocab-bounded, the join
    * side of every classification pass. All log-probabilities are
    * nano-scaled longs (the [[lmQuality]] discipline), so classification
    * sums are order-exact integers. */
  final case class NbModel(priors: DataFrame, tokenLogProbs: DataFrame) {
    /** Bounded driver pull — one (label, prior, unseen) row per class,
      * sorted, memoized per model instance so repeated classification
      * passes (and the fail-loud class-count checks) collect once. */
    lazy val classRows: Array[(String, Long, Long)] = priors
      .select(col("label"), col("prior_nano"), col("unseen_nano"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

    /** (class, token) model-row count, memoized — the driver-known size
      * [[nbWide]] gates its broadcast hint on. One count job per model
      * instance (a parquet metadata count for loaded models; for
      * freshly trained ones, one extra pass over the SEED set — small
      * by construction). */
    lazy val tokenRows: Long = tokenLogProbs.count()
  }

  /** MULTINOMIAL NAIVE BAYES text classifier (round 14) — in-engine
    * MODEL-BASED filtering, the step modern curation pipelines run
    * after the heuristic gates (classifier-based quality/domain
    * filtering à la FineWeb-Edu / DCLM): train on a labeled seed set
    * (quality labels, domains, or any document grouping), then score
    * the whole corpus with the frozen model.
    *
    * Training is pure counting: per-class token counts (one shuffle),
    * add-one smoothing, `ln((tf+1)/(tot_c+V))` nano-rounded to a long
    * per (class, token) — the [[lmQuality]] precedent, making every
    * downstream document sum an order-exact integer sum (partition-
    * invariant, SQL-replayable). Priors `ln(n_c/N)` and the unseen-token
    * mass `ln(1/(tot_c+V))` land beside them, one row per class.
    *
    * 100 TB shape: the model is (classes × vocab) rows — bounded by the
    * vocabulary, not the corpus; training is two aggregations over the
    * SEED set (small by construction); classification
    * ([[nbClassifyScored]]) is one corpus tokenize, one 1:1 broadcast
    * join against the token-pivoted model, and one doc-keyed aggregate
    * — no doc × class rows, no iteration, no driver data beyond the
    * V/N scalars and the |classes|-row prior table.
    */
  def nbTrain(docs: DataFrame, labelCol: String,
      textCol: String): NbModel = {
    val tok = docs.select(col(labelCol).as("label"),
      explode(tokens(col(textCol))).as("token"))
    val tc = tok.groupBy("label", "token").agg(count(lit(1)).as("__tf"))
    val ctot = tc.groupBy("label").agg(sum("__tf").as("__tot"))
    // bounded driver scalars: vocabulary size and seed-set doc count
    val vocab = tc.select("token").distinct().count()
    val nDocs = docs.count()
    val nd = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("__nd"))
    val tokenLogProbs = tc.join(ctot, "label")
      .select(col("label"), col("token"),
        round(log((col("__tf") + lit(1)).cast("double") /
          (col("__tot") + lit(vocab)).cast("double")) * lit(1e9))
          .cast("long").as("logp_nano"))
    val priors = nd.join(ctot, "label")
      .select(col("label"),
        round(log(col("__nd").cast("double") / lit(nDocs.toDouble))
          * lit(1e9)).cast("long").as("prior_nano"),
        round(log(lit(1.0) /
          (col("__tot") + lit(vocab)).cast("double")) * lit(1e9))
          .cast("long").as("unseen_nano"))
    NbModel(priors, tokenLogProbs)
  }

  /** Per-(document, class) INTEGER score under a FROZEN [[NbModel]]:
    * score = prior + Σ_matched tf·logp + (len − matched_tf)·unseen, in
    * nano log-units. Every term rides DECIMAL(38,0) — a billion-token
    * document times nano-scaled log-probs overflows BIGINT, so BOTH
    * factors of the tf·logp product are cast before multiplying (a
    * BIGINT×BIGINT product wraps first, the exact case the decimal
    * discipline exists for; this matches a HUGEINT oracle replay term
    * for term). Tokens outside the training vocabulary take the class's
    * unseen mass; empty documents reduce to the prior. One token-keyed
    * vocab-bounded join + one (doc, class) partial agg.
    *
    * This is the per-pair ANALYSIS frame (score distributions per
    * class, calibration curves) — but it is computed EXPANSION-FREE:
    * one map-side `explode` of [[nbClassifyScored]]'s per-document
    * class-score array, after the aggregates. The |docs| · |classes|
    * rows exist only in the output projection, never inside a shuffle
    * or a join (an earlier lowering aggregated and joined ON the
    * (doc, class) pairs and measured superlinear at 2M docs — see
    * [[nbClassifyScored]]).
    *
    * @return (idCol, label, score_nano) — one row per document × class
    */
  def nbScore(docs: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame =
    nbWide(docs, idCol, textCol, model)
      .select(col(idCol), explode(col("__e")).as("__x"))
      .select(col(idCol), col("__x")("l").as("label"),
        (-col("__x")("ns")).cast("decimal(38,0)").as("score_nano"))

  /** Classify with a FROZEN [[NbModel]]: argmax of the [[nbScore]]
    * scores over classes (ties to the smaller label). Same plan as
    * [[nbClassifyScored]] minus the evidence columns.
    *
    * @return (idCol, predicted)
    */
  def nbClassify(docs: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame =
    nbClassifyScored(docs, idCol, textCol, model)
      .select(col(idCol), col("predicted"))

  /** [[nbClassify]] plus the EVIDENCE: the winning class's score and
    * its margin over the runner-up class (nano log-units, exact
    * integers) — the number a model-based curation filter cuts on
    * (FineWeb-Edu / DCLM keep documents whose classifier score clears a
    * threshold τ; the raw per-class log-likelihood is length-dependent,
    * the margin is the length-robust confidence). Single-class models
    * have no runner-up → `margin_nano` null.
    *
    * THE PLAN NEVER MATERIALIZES A doc × class ROW. [[nbScore]]'s
    * explicit expansion costs |docs|·|classes| rows through a partial
    * aggregate plus a (doc, class)-keyed sort-merge join — measured
    * SUPERLINEAR on the 2M-doc × 20-class stress shape (2.5–3.0× at
    * 2×: both the 40M-group partial agg and the 40M-row-per-side SMJ
    * sort start spilling). Instead, the identical integers come from
    * the algebraic split
    * `score(d,c) = prior_c + n_d·unseen_c + Σ_matched tf·(logp − unseen_c)`
    * (exact integer arithmetic — associativity holds, so the oracle is
    * unchanged): the model pre-pivots to ONE row per token carrying a
    * label → (logp − unseen) map, the corpus joins it 1 : 1 broadcast
    * (no row expansion), ONE per-document hash aggregate computes all
    * |classes| matched sums as generated DECIMAL(38,0) columns
    * (map-side combine, |docs| groups — not |docs|·|classes|), and the
    * argmax + runner-up fall out of one scalar `sort_array` over the
    * |classes|-element score array. The class table rides the driver
    * (model-bounded by construction — the kmeans-centroid contract);
    * the only shuffles are the (doc, token) tf aggregate and the
    * doc-keyed class-sum aggregate, both corpus-linear.
    *
    * @return (idCol, predicted, score_nano, margin_nano)
    */
  def nbClassifyScored(docs: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame = {
    val dec = "decimal(38,0)"
    val wide = nbWide(docs, idCol, textCol, model)
    // asc struct order = score desc, ties to the smaller label; a
    // single-class model's array has no element 1 → margin null via
    // the size guard (array index out of range would also be null, but
    // the guard states the intent)
    val arr = sort_array(col("__e"))
    wide.select(col(idCol),
      arr(0)("l").as("predicted"),
      (-arr(0)("ns")).cast(dec).as("score_nano"),
      when(size(col("__e")) > 1, (arr(1)("ns") - arr(0)("ns")).cast(dec))
        .as("margin_nano"))
  }

  /** The shared expansion-free NB scoring plan: one row per DOCUMENT
    * carrying the |classes|-element array of (−score, label) structs.
    * The algebraic split
    * `score(d,c) = prior_c + n_d·unseen_c + Σ_matched tf·(logp − unseen_c)`
    * (exact integers — associativity holds, so oracles are unchanged):
    * the model pre-pivots to ONE row per token carrying a
    * label → (logp − unseen) map, the corpus joins it 1 : 1 broadcast
    * (no row expansion), ONE per-document hash aggregate computes all
    * |classes| matched sums as generated DECIMAL(38,0) columns
    * (map-side combine, |docs| groups — not |docs| · |classes|), and
    * the per-class scores assemble as a scalar array. The class table
    * rides the driver (model-bounded by construction — the
    * kmeans-centroid contract); the only shuffles are the (doc, token)
    * tf aggregate and the doc-keyed class-sum aggregate, both
    * corpus-linear. (The previous (doc, class)-keyed lowering measured
    * 2.5–3.0× at 2× on the 20-class stress shape — partial-agg groups
    * and join-sort rows both |docs| · |classes|, spilling; this one
    * measured 1.19×.) */
  /** Broadcast ceiling for the token-pivoted model map, in (class,
    * token) model rows. Each pivoted entry costs ~40–60 bytes in the
    * broadcast relation (token string + one map entry), so 50M rows is
    * ~2–3 GB — comfortably under Spark's 8 GB broadcast hard limit
    * while covering every realistic curation model (a 2M-token vocab ×
    * 20 classes = 40M rows). Package-visible for the spec. */
  private[graft] val NbBroadcastMaxModelRows = 50000000L

  /** Whether a model of `tokenRows` (class, token) rows may carry the
    * broadcast hint — see [[NbBroadcastMaxModelRows]]. */
  private[graft] def nbModelBroadcastable(tokenRows: Long): Boolean =
    tokenRows <= NbBroadcastMaxModelRows

  private def nbWide(docs: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame = {
    val dec = "decimal(38,0)"
    // bounded driver pull: one row per class (label, prior, unseen)
    val classes = model.classRows
    require(classes.nonEmpty,
      "nbClassify needs a model with at least one class")
    // model pre-pivot: token → map(label → logp − unseen), vocab-bounded
    val adj = model.tokenLogProbs
      .join(broadcast(model.priors.select(
        col("label"), col("unseen_nano"))), "label")
      .select(col("token"), col("label"),
        (col("logp_nano") - col("unseen_nano")).as("__a"))
      .groupBy("token")
      .agg(map_from_entries(collect_list(
        struct(col("label"), col("__a")))).as("__am"))
    val base = docs.select(col(idCol).as("__id"),
      tokens(col(textCol)).as("__t"))
    val dlen = base.select(col("__id"),
      size(col("__t")).cast("long").as("__n"))
    val tf = base.select(col("__id"), explode(col("__t")).as("token"))
      .groupBy("__id", "token").agg(count(lit(1)).as("__tf"))
    // OOV tokens drop from the inner join — their mass is n·unseen
    val sumCols = classes.zipWithIndex.map { case ((l, _, _), i) =>
      sum(col("__tf").cast(dec) *
        coalesce(element_at(col("__am"), lit(l)), lit(0L)).cast(dec))
        .as(s"__s$i")
    }
    // the broadcast hint bypasses autoBroadcastJoinThreshold, so gate
    // it on the driver-known model size: a 10M-token × 20-class model
    // pivots to a multi-GB map table that would OOM the driver or hit
    // Spark's 8 GB broadcast hard limit — above the ceiling the join is
    // left un-hinted and the planner picks (shuffle join for the giant
    // model, which is the right plan there: both sides partition by
    // token, corpus-linear)
    val adjSized =
      if (nbModelBroadcastable(model.tokenRows)) broadcast(adj) else adj
    val sums = tf.join(adjSized, "token")
      .groupBy("__id")
      .agg(sumCols.head, sumCols.tail: _*)
    val entries = classes.zipWithIndex.map { case ((l, p, u), i) =>
      struct(
        (-(lit(p).cast(dec)
          + col("__n").cast(dec) * lit(u).cast(dec)
          + coalesce(col(s"__s$i"), lit(0).cast(dec)))).cast(dec).as("ns"),
        lit(l).as("l"))
    }
    dlen.join(sums, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol), array(entries: _*).as("__e"))
  }

  /** Persist a trained [[NbModel]] (the [[graft.functions.Similarity]]
    * kmeans-model lifecycle, for the classifier): `priors/` is one row
    * per class, `token_log_probs/` one row per (class, vocab token) —
    * model-bounded, written with its natural partitioning (a 10M-token
    * vocab × 20 classes is still a small table, but not a one-file
    * coalesce). Every stored column is an exact long, so save →
    * [[loadNbModel]] → [[nbClassify]] is bit-identical to classifying
    * with the in-memory model (`pl_nb_model_batch` hash-proves it) —
    * train ONCE on the seed set, classify every nightly batch under the
    * frozen model. Each save commits a new version of both tables (the
    * registry semantics of [[Dedup.overwriteParquet]]). */
  def saveNbModel(model: NbModel, dir: String,
      numFiles: Int = 8): Unit = {
    Dedup.overwriteParquet(model.priors, s"$dir/priors", numFiles = 1)
    Dedup.overwriteParquet(model.tokenLogProbs,
      s"$dir/token_log_probs", numFiles)
  }

  /** Fail-loud lockstep guard for the two-table NB model dir:
    * [[saveNbModel]] commits `priors/` and `token_log_probs/` as two
    * independent [[graft.functions.SnapshotDir]] commits, so a crash
    * between them leaves the version counters permanently skewed —
    * after which a load would silently pair a priors table and a token
    * table from DIFFERENT trainings. Loading therefore requires the two
    * dirs' committed version sets to match exactly; a skewed registry
    * must be repaired (re-save) before it can be read. */
  private def requireNbLockstep(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val a = SnapshotDir.versions(spark, s"$dir/priors")
    val b = SnapshotDir.versions(spark, s"$dir/token_log_probs")
    require(a == b,
      s"NB model dir $dir: priors/ versions $a and token_log_probs/ " +
        s"versions $b diverge — a saveNbModel crashed between its two " +
        "commits; re-save the model before loading")
  }

  /** Load a persisted [[NbModel]] — metadata-only (parquet scans;
    * nothing materializes until a classification runs). Pins the newest
    * committed version of each table, after the [[requireNbLockstep]]
    * skew check. */
  def loadNbModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): NbModel = {
    requireNbLockstep(spark, dir)
    NbModel(
      spark.read.parquet(
        Dedup.snapshotFiles(spark, s"$dir/priors"): _*),
      spark.read.parquet(
        Dedup.snapshotFiles(spark, s"$dir/token_log_probs"): _*))
  }

  /** TIME TRAVEL for the classifier model registry
    * ([[SnapshotDir.filesAt]], both tables in lockstep — every
    * [[saveNbModel]] commits each exactly once): the model AS OF a
    * committed version — re-scoring yesterday's batch with yesterday's
    * model, or rolling back a bad retrain. */
  def loadNbModelAt(spark: org.apache.spark.sql.SparkSession,
      dir: String, version: Long): NbModel = {
    requireNbLockstep(spark, dir)
    NbModel(
      spark.read.parquet(
        SnapshotDir.filesAt(spark, s"$dir/priors", version): _*),
      spark.read.parquet(
        SnapshotDir.filesAt(spark, s"$dir/token_log_probs", version): _*))
  }

  /** The threshold QUALITY/DOMAIN FILTER composition (the FineWeb-Edu /
    * DCLM curation step): keep documents the frozen model assigns
    * `keepLabel` with at least `minMarginNano` nano-log-units of margin
    * over the runner-up class. Survivors only — the filtered corpus
    * feeds the next pipeline stage.
    *
    * @return (idCol, margin_nano)
    */
  def nbFilter(docs: DataFrame, idCol: String, textCol: String,
      model: NbModel, keepLabel: String,
      minMarginNano: Long): DataFrame = {
    // fail loudly on the degenerate model (the kmeansTrain precedent):
    // a single-class model has a null margin on every row, so the
    // threshold filter would silently keep ZERO rows even though every
    // row is predicted keepLabel
    require(model.classRows.length >= 2,
      "nbFilter needs a model with at least 2 classes — a single-class " +
        "model has no runner-up margin to threshold on")
    nbClassifyScored(docs, idCol, textCol, model)
      .filter(col("predicted") === keepLabel &&
        col("margin_nano") >= lit(minMarginNano))
      .select(col(idCol), col("margin_nano"))
  }

  /** PERCENTILE-threshold curation (round 16): keep the top `fraction`
    * of keepLabel-predicted documents by margin — the production
    * FineWeb-Edu operation ("keep the top p% by classifier score"),
    * where [[nbFilter]]'s fixed τ can't track a drifting score
    * distribution. Classification is the same frozen-model pass; the
    * cutoff is the EXACT ceil(p·n)-th largest margin, learned by
    * [[Sampling.kthLargest]]'s bounded histogram passes over a
    * checkpointed narrow (id, margin) frame — never a global sort —
    * and ties at the cutoff are kept (the result is a pure property of
    * the data, SQL-replayable via `row_number() ... DESC` at rank k).
    *
    * @return (idCol, margin_nano BIGINT). Range contract: the margin is
    * a per-document score difference, ≤ doc tokens × max |logp| nanos —
    * BIGINT-safe for documents up to ~4·10⁸ tokens (the engine keeps
    * DECIMAL internally where corpus SUMS demand it; a single
    * document's margin does not).
    */
  def nbFilterTopFraction(docs: DataFrame, idCol: String,
      textCol: String, model: NbModel, keepLabel: String,
      fraction: Double): DataFrame = {
    require(model.classRows.length >= 2,
      "nbFilterTopFraction needs a model with at least 2 classes — a " +
        "single-class model has no runner-up margin to rank on")
    Sampling.keepTopFraction(
      nbClassifyScored(docs, idCol, textCol, model)
        .filter(col("predicted") === keepLabel)
        .select(col(idCol), col("margin_nano").cast("long")
          .as("margin_nano")),
      "margin_nano", fraction)
  }

  /** CLASS-BALANCED percentile curation (round 16): keep the top
    * `fraction` of documents by margin WITHIN each predicted class —
    * the balanced form of [[nbFilterTopFraction]], so high-confidence
    * head classes can't crowd the whole budget (every class
    * contributes its own top p%). One frozen-model scored pass, then
    * [[Sampling.keepTopFractionByGroup]]'s single group-keyed shuffle
    * (per-class rank + tie-inclusive cutoff — no global sort, no
    * driver state, class count unbounded).
    * @return (idCol, predicted, margin_nano BIGINT — the
    * [[nbFilterTopFraction]] range contract) */
  def nbFilterTopFractionByClass(docs: DataFrame, idCol: String,
      textCol: String, model: NbModel, fraction: Double): DataFrame = {
    require(model.classRows.length >= 2,
      "nbFilterTopFractionByClass needs a model with at least 2 " +
        "classes — a single-class model has no runner-up margin to " +
        "rank on")
    Sampling.keepTopFractionByGroup(
      nbClassifyScored(docs, idCol, textCol, model)
        .select(col(idCol), col("predicted"),
          col("margin_nano").cast("long").as("margin_nano")),
      "predicted", "margin_nano", idCol, fraction)
  }

  /** RAG-style overlapping token chunks: windows of `chunkTokens` tokens
    * starting every `chunkTokens − overlapTokens` (the stride), so each
    * chunk shares `overlapTokens` with its predecessor. Chunk count =
    * ceil(max(n − overlap, 1) / stride) — the final window always reaches
    * the document end, no sub-overlap tail chunks. Empty documents emit
    * nothing.
    *
    * Pure HOF lowering (transform over a sequence + one explode) — the
    * chunking itself is map-side and shuffle-free; embedding each chunk
    * downstream is where the compute goes at scale.
    *
    * @return (id, chunk_ix, chunk_text, chunk_tokens)
    */
  def chunk(
      docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > overlapTokens && overlapTokens >= 0,
      "chunkTokens must exceed overlapTokens")
    val stride = chunkTokens - overlapTokens
    val toks = tokens(col(textCol))
    val n = size(toks)
    val nChunks = ceil(
      greatest(n - overlapTokens, lit(1)).cast("double") / stride)
      .cast("int")
    docs
      .filter(n > 0)
      .select(col(idCol).as("id"), toks.as("__t"), nChunks.as("__nc"))
      .select(col("id"), explode(transform(
        sequence(lit(0), col("__nc") - 1),
        i => struct(
          i.cast("long").as("chunk_ix"),
          slice(col("__t"), i * stride + 1, lit(chunkTokens)).as("__w"))))
        .as("__c"))
      .select(col("id"), col("__c.chunk_ix").as("chunk_ix"),
        array_join(col("__c.__w"), " ").as("chunk_text"),
        size(col("__c.__w")).cast("long").as("chunk_tokens"))
  }

  /** Canonical URL for exact URL-level dedup (the CommonCrawl-style key):
    * scheme and host lowercase; default ports stripped (`:80` http,
    * `:443` https); fragment dropped; tracking params dropped
    * (`utm_*`, `fbclid`, `gclid`, `msclkid`); remaining query params
    * SORTED; trailing path slashes trimmed (empty path → `/`). A string
    * with no `scheme://host` is not an absolute URL → null (row-error
    * policy). Pure codegen'd regex/array lowering — map-side, replayable
    * by any SQL engine.
    */
  def canonicalUrl(c: Column): Column = {
    val u = trim(c)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = lower(regexp_extract(rest, "^([^/?#]*)", 1))
    val host = when(scheme === "https", regexp_replace(hostport, lit(":443$"), lit("")))
      .when(scheme === "http", regexp_replace(hostport, lit(":80$"), lit("")))
      .otherwise(hostport)
    val tail0 = regexp_replace(rest, "^[^/?#]*", "")
    val path0 = regexp_replace(
      regexp_extract(tail0, "^([^?#]*)", 1), lit("/+$"), lit(""))
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(tail0, "^[^?#]*\\?([^#]*)", 1)
    val params = filter(split(query, "&"), p =>
      !p.rlike("^(utm_[^=]*|fbclid|gclid|msclkid)(=|$)") && p =!= "")
    when(scheme =!= "" && host =!= "",
      concat(scheme, lit("://"), host, path,
        when(size(params) > 0,
          concat(lit("?"), array_join(array_sort(params), "&")))
          .otherwise(lit(""))))
  }
}
