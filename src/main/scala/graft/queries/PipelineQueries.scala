package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Bpe, Dedup, Graph, Retrieval, Sampling, Similarity, SnapshotDir, TextAnalysis}

/** Training-data pipeline operators as checkable queries: dedup, similarity
  * search, text analysis, multimodal plumbing. Oracles where the same
  * computation is expressible in DuckDB SQL — including the
  * engine-hash-dependent paths (minhash via a full XXH64-in-SQL port,
  * simhash via its arithmetic mixer, sign-LSH ANN and cosine dedup via
  * hashInt plane components with sequential-fold double arithmetic); the
  * remaining rows-only checks are the genuinely non-replayable ones
  * (libm-ln weighted sampling and the percentile_approx sketch), each
  * pinned by a deterministic ScalaTest.
  */
object PipelineQueries {

  /** DuckDB mirror of [[TextAnalysis.langId]], generated from the same
    * `langProfiles` map: marker-hit structs, `list_max` argmax (ties break
    * to the later code in both engines — struct comparison), 'und' on zero
    * hits.
    */
  private val langIdOracleSql: String = {
    val arms = TextAnalysis.langProfiles.toSeq.sortBy(_._1).map { case (code, words) =>
      s"{'hits': len(list_filter(toks, t -> t IN (" +
        words.map(w => s"'$w'").mkString(", ") + s"))), 'code': '$code'}"
    }.mkString(", ")
    s"""WITH t AS (SELECT doc_id,
       |  list_transform(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0),
       |                 x -> lower(x)) AS toks
       |FROM documents)
       |SELECT doc_id,
       |  CASE WHEN best.hits > 0 THEN best.code ELSE 'und' END AS lang_guess
       |FROM (SELECT doc_id, list_max([
       |    $arms]) AS best FROM t)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of [[Dedup.simhash]] — the token hash is an
    * arithmetic-only polynomial+mixer (see [[graft.functions.SimHashUtil]])
    * chosen precisely so this oracle exists: tokens unnest into rows, the
    * mix steps chain through CTEs in HUGEINT mod-2^64 arithmetic, and the
    * 64 bit-majorities are generated `sum(CASE …)` columns. Docs with no
    * tokens keep simhash 0 via the left join.
    */
  /** The simhash-computing CTE chain over an arbitrary `src(doc_id, text)`
    * CTE — shared by [[simhashOracleSql]] and the r9 `pl_simhash_dups`
    * pairs oracle. Produces CTEs `tok` … `v(doc_id, simhash)`. */
  private def simhashCtes(src: String): String = {
    val W = "18446744073709551616" // 2^64
    val C = java.lang.Long.toUnsignedString(graft.functions.SimHashUtil.C)
    val downMix = s"(h + h // 8589934592) % $W" // h += h >>> 33
    val mul = s"(h * $C) % $W"
    val ones = (0 until 64).map { b =>
      val p = java.math.BigInteger.ONE.shiftLeft(b).toString
      s"sum(CASE WHEN h // $p % 2 = 1 THEN 1 ELSE 0 END) AS o$b"
    }.mkString(",\n    ")
    // bit-63 weight is -2^63; emitting it first keeps every partial sum
    // of the 64 BIGINT terms inside signed-64 range
    val value = (63 to 0 by -1).map { b =>
      val w =
        if (b == 63) "-9223372036854775808"
        else java.math.BigInteger.ONE.shiftLeft(b).toString
      s"CASE WHEN 2 * o$b > n THEN CAST($w AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" +\n    ")
    s"""tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
       |                                    x -> len(x) > 0)) AS t
       |  FROM $src),
       |h0 AS (SELECT doc_id, list_reduce(
       |    list_prepend(CAST(0 AS HUGEINT),
       |      list_transform(string_split(t, ''), c -> CAST(unicode(c) AS HUGEINT))),
       |    (a, c) -> (a * 131 + c) % $W) AS h FROM tok),
       |h1 AS (SELECT doc_id, $downMix AS h FROM h0),
       |h2 AS (SELECT doc_id, $mul AS h FROM h1),
       |h3 AS (SELECT doc_id, $downMix AS h FROM h2),
       |h4 AS (SELECT doc_id, $mul AS h FROM h3),
       |h5 AS (SELECT doc_id, $downMix AS h FROM h4),
       |bits AS (SELECT doc_id, count(*) AS n,
       |    $ones
       |  FROM h5 GROUP BY doc_id),
       |v AS (SELECT doc_id,
       |    $value AS simhash
       |  FROM bits)""".stripMargin
  }

  private val simhashOracleSql: String =
    s"""WITH ${simhashCtes("documents")}
       |SELECT d.doc_id, coalesce(v.simhash, CAST(0 AS BIGINT)) AS simhash
       |FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Pairs oracle for the r9 `pl_simhash_dups` gate: the same simhash
    * CTEs over the documents ∪ one-token-appended variants source, then
    * an ALL-PAIRS popcount — the bounded exact twin the banded operator
    * must equal, by the pigeonhole recall argument (maxDist 7 < 8 bands).
    */
  private val simhashDupsOracleSql: String =
    s"""WITH src AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 400
       |  UNION ALL
       |  SELECT doc_id + 10000, text || ' graftmarker'
       |  FROM documents WHERE doc_id < 400),
       |${simhashCtes("src")},
       |hs AS (SELECT s.doc_id, coalesce(v.simhash, CAST(0 AS BIGINT)) AS sh
       |       FROM src s LEFT JOIN v ON s.doc_id = v.doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 7
       |ORDER BY id_a, id_b""".stripMargin

  /** Oracle for `pl_hamming_versioned` — the banded-Hamming lifecycle
    * replay: simhash every document and variant via the shared
    * [[simhashCtes]] chain, then day-1 survivors = batch rows with no
    * corpus hash within maxDist 7 (all-pairs popcount — exact, because
    * 7 < 8 bands is pigeonhole-complete), day-2 survivors checked
    * against corpus ∪ day-1 survivors (the appended index state). The
    * planted ` xv1` variants give both days real drops: day 1's dup
    * their corpus originals, day 2's dup only the APPENDED day-1
    * survivors — vacuous if the append never landed. */
  private val hammingVersionedOracleSql: String =
    s"""WITH src AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, text || ' xv1' FROM documents
       |  WHERE doc_id < 50
       |  UNION ALL
       |  SELECT doc_id + 20000, text || ' xv1' FROM documents
       |  WHERE doc_id >= 250 AND doc_id < 300),
       |${simhashCtes("src")},
       |hs AS (SELECT s.doc_id, coalesce(v.simhash, CAST(0 AS BIGINT)) AS sh
       |       FROM src s LEFT JOIN v ON s.doc_id = v.doc_id),
       |corp AS (SELECT sh FROM hs WHERE doc_id < 250),
       |d1 AS (SELECT doc_id, sh FROM hs
       |       WHERE (doc_id >= 250 AND doc_id < 375)
       |          OR (doc_id >= 10000 AND doc_id < 10050)),
       |surv1 AS (SELECT doc_id, sh FROM d1 WHERE NOT EXISTS (
       |    SELECT 1 FROM corp c WHERE bit_count(xor(d1.sh, c.sh)) <= 7)),
       |idx2 AS (SELECT sh FROM corp UNION ALL SELECT sh FROM surv1),
       |d2 AS (SELECT doc_id, sh FROM hs
       |       WHERE (doc_id >= 375 AND doc_id < 10000)
       |          OR doc_id >= 20000),
       |surv2 AS (SELECT doc_id, sh FROM d2 WHERE NOT EXISTS (
       |    SELECT 1 FROM idx2 i WHERE bit_count(xor(d2.sh, i.sh)) <= 7))
       |SELECT CAST(1 AS INT) AS day, doc_id FROM surv1
       |UNION ALL SELECT CAST(2 AS INT) AS day, doc_id FROM surv2
       |ORDER BY day, doc_id""".stripMargin

  /** DuckDB mirror of [[Dedup.minhashDupPairs]] (n=3, k=64, r=4, θ=0.4):
    * a full XXH64 implementation in HUGEINT mod-2^64 SQL — stripe lanes
    * fold through a struct `list_reduce`, 8/4/1-byte tails and the final
    * avalanche chain through `* REPLACE` CTEs, and 64-bit multiplies split
    * the left operand at 2^32 so every product stays inside signed
    * HUGEINT. Validated byte-for-byte against the reference xxHash test
    * vectors and Spark's `XXH64.hashUnsafeBytes` (seeds 0–63).
    *
    * Two documented equivalences vs the engine:
    *  - bytes are taken as `unicode(char)` per split character, which
    *    equals UTF-8 bytes only for ASCII — true of the generated corpus
    *    (asserted: octet_length(encode(text)) = length(text) at all SFs);
    *  - band buckets compare the signature slice VALUES for equality
    *    where the engine compares xxhash64 of the rendered slice string —
    *    identical output unless two distinct slices collide in 64 bits.
    */
  private def minhashOracleSql: String = minhashOracle(
    """jac AS (SELECT id_a, id_b,
      |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
      |    len(sa.s) AS na, len(sb.s) AS nb
      |  FROM cand JOIN shs sa ON cand.id_a = sa.doc_id
      |            JOIN shs sb ON cand.id_b = sb.doc_id)
      |SELECT id_a, id_b, inter / (na + nb - inter) AS jaccard FROM jac
      |WHERE inter / (na + nb - inter) >= 0.4 ORDER BY id_a, id_b""".stripMargin)

  /** Same XXH64 band-candidate CTE chain, Levenshtein verify instead of
    * Jaccard — the oracle of [[Dedup.editDistancePairs]]. */
  private def editDupsOracleSql(maxDist: Int): String = minhashOracle(
    s"""lev AS (SELECT id_a, id_b,
       |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
       |  FROM cand JOIN documents da ON cand.id_a = da.doc_id
       |            JOIN documents db ON cand.id_b = db.doc_id)
       |SELECT id_a, id_b, dist FROM lev
       |WHERE dist <= $maxDist ORDER BY id_a, id_b""".stripMargin)

  /** The video-fingerprint replay CTE chain shared by `pl_video_dedup`
    * and `pl_video_clusters`: generating cell function → per-frame dHash
    * bits → per-bit majority pool → all-pairs Hamming `dists(id_a, id_b,
    * d)` (exact twin of the banded operator by the pigeonhole argument,
    * maxDist 6 < 8 bands), plus `vids(doc_id)` for the cluster closure.
    */
  private val videoDedupCtes: String =
    """vids AS (SELECT doc_id FROM documents WHERE doc_id < 240),
      |vsrc AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v,
      |                2 + (doc_id // 4) % 3 AS nf
      |         FROM vids),
      |vcells AS (SELECT doc_id, nf, f, cx, cy,
      |    ((((g + 1) * (cx + 3) * (cy + 5) * 2654435761)
      |      % 97) % 2) * 150 + 40 + f
      |    + CASE WHEN v > 0 AND cx = v AND cy = (v * 3) % 8
      |           AND f = v % nf THEN 50 ELSE 0 END AS gray
      |  FROM vsrc, unnest(range(0, nf)) AS uf(f),
      |       unnest(range(0, 9)) AS ux(cx),
      |       unnest(range(0, 8)) AS uy(cy)),
      |vfbits AS (SELECT a.doc_id, a.nf, a.f, a.cy * 8 + a.cx AS i,
      |             CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
      |           FROM vcells a JOIN vcells b
      |             ON a.doc_id = b.doc_id AND a.f = b.f AND a.cy = b.cy
      |            AND b.cx = a.cx + 1
      |           WHERE a.cx < 8),
      |vpooled AS (SELECT doc_id, i,
      |              CASE WHEN 2 * sum(bit) > max(nf) THEN 1 ELSE 0 END
      |                AS bit
      |            FROM vfbits GROUP BY doc_id, i),
      |vdists AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
      |             sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS d
      |           FROM vpooled x JOIN vpooled y
      |             ON x.i = y.i AND x.doc_id < y.doc_id
      |           GROUP BY 1, 2)""".stripMargin

  /** The r10 incremental near-dup oracle: the same XXH64 signature/band
    * replay, but candidates are batch (doc_id >= 250) probing corpus
    * (doc_id < 250) band buckets, and the output is the SURVIVING batch
    * ids (too-short-to-shingle batch docs survive by construction). */
  private def incrMinhashOracleSql: String = minhashOracle(
    """jac AS (SELECT id_a AS bid, id_b AS cid,
      |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
      |    len(sa.s) AS na, len(sb.s) AS nb
      |  FROM cand JOIN shs sa ON cand.id_a = sa.doc_id
      |            JOIN shs sb ON cand.id_b = sb.doc_id),
      |drops AS (SELECT DISTINCT bid FROM jac
      |          WHERE inter / (na + nb - inter) >= 0.4)
      |SELECT doc_id FROM documents
      |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT bid FROM drops)
      |ORDER BY doc_id""".stripMargin,
    candSql =
      """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
        |         WHERE a.doc_id >= 250 AND b.doc_id < 250)""".stripMargin)

  /** The r13 near-dup CONTAMINATION oracle: same XXH64 signature/band
    * replay, candidates are corpus (doc_id < 250) banding against the
    * benchmark slice (250 ≤ id < 300), and the output is the FLAGGED
    * corpus docs with their distinct verified benchmark-partner count
    * and smallest partner id. */
  private def contamNearDupOracleSql: String = minhashOracle(
    """jac AS (SELECT id_a AS did, id_b AS bid,
      |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
      |    len(sa.s) AS na, len(sb.s) AS nb
      |  FROM cand JOIN shs sa ON cand.id_a = sa.doc_id
      |            JOIN shs sb ON cand.id_b = sb.doc_id),
      |hits AS (SELECT DISTINCT did, bid FROM jac
      |         WHERE inter / (na + nb - inter) >= 0.4)
      |SELECT did AS doc_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
      |       CAST(min(bid) AS BIGINT) AS first_bench_id
      |FROM hits GROUP BY 1 ORDER BY doc_id""".stripMargin,
    candSql =
      """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
        |         WHERE a.doc_id < 250
        |           AND b.doc_id >= 250 AND b.doc_id < 300)""".stripMargin,
    // only the corpus (< 250) and the benchmark slice participate — the
    // 64-seed XXH64 chain is the oracle's whole cost, so don't hash the
    // 200 docs the gate never reads
    docsPred = "doc_id < 300")

  /** The r12 DELETE-propagation oracle: after deleting corpus ids
    * ≡ 0 (mod 3) from the persisted index, a batch probe must behave as
    * if those documents never existed — "the appended index" equivalence
    * of the r11 oracle in reverse: deletion is exactly the band-partner
    * filter `b.doc_id % 3 <> 0`, because the delete verb removes exactly
    * those documents' set rows and band tuples. Non-vacuous by
    * construction when some batch doc's ONLY near-dup is a deleted
    * corpus doc (it must now SURVIVE where `pl_incr_minhash` drops it). */
  private def indexDeleteOracleSql: String = minhashOracle(
    """jac AS (SELECT id_a AS bid, id_b AS cid,
      |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
      |    len(sa.s) AS na, len(sb.s) AS nb
      |  FROM cand JOIN shs sa ON cand.id_a = sa.doc_id
      |            JOIN shs sb ON cand.id_b = sb.doc_id),
      |drops AS (SELECT DISTINCT bid FROM jac
      |          WHERE inter / (na + nb - inter) >= 0.4)
      |SELECT doc_id FROM documents
      |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT bid FROM drops)
      |ORDER BY doc_id""".stripMargin,
    candSql =
      """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
        |         WHERE a.doc_id >= 250 AND b.doc_id < 250
        |           AND b.doc_id % 3 <> 0)""".stripMargin)

  /** The r11 index-lifecycle oracle (build → probe → APPEND → probe):
    * day-1 batch (250 ≤ id < 375) probes the day-0 corpus (id < 250)
    * index; day-1 SURVIVORS join the index membership; day-2
    * (375 ≤ id < 500) probes the appended index — same XXH64 signature/
    * band replay, with `cand` as the day-1 probe and the tail deriving
    * day-1 survivors, the appended membership, and the day-2 probe from
    * the one shared band CTE. Day-2 must drop docs whose ONLY near-dup
    * is a day-1 survivor (present at sf0.01: docs 389/457 vs survivors
    * 310/326 — no corpus hit), which a probe of a non-appended index
    * would keep. */
  private def indexUpdateOracleSql: String = indexUpdateOracle("")

  /** [[indexUpdateOracleSql]] with an optional extra UNION branch before
    * the final ORDER BY — the time-travel gate appends
    * `day 3 = surv1` (a probe pinned to the pre-append v1 snapshot must
    * reproduce the day-1 result bit-for-bit after the index moved on). */
  private def indexUpdateOracle(extraUnion: String): String = minhashOracle(
    s"""jac AS (SELECT id_a, id_b,
      |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
      |    len(sa.s) AS na, len(sb.s) AS nb
      |  FROM cand JOIN shs sa ON cand.id_a = sa.doc_id
      |            JOIN shs sb ON cand.id_b = sb.doc_id),
      |hits AS MATERIALIZED (SELECT id_a, id_b FROM jac
      |         WHERE inter / (na + nb - inter) >= 0.4),
      |drops1 AS (SELECT DISTINCT id_a AS bid FROM hits
      |           WHERE id_a >= 250 AND id_a < 375 AND id_b < 250),
      |surv1 AS (SELECT doc_id FROM documents
      |          WHERE doc_id >= 250 AND doc_id < 375
      |            AND doc_id NOT IN (SELECT bid FROM drops1)),
      |drops2 AS (SELECT DISTINCT id_a AS bid FROM hits
      |           WHERE id_a >= 375 AND id_a < 500
      |            AND (id_b < 250
      |                 OR id_b IN (SELECT doc_id FROM surv1))),
      |surv2 AS (SELECT doc_id FROM documents
      |          WHERE doc_id >= 375 AND doc_id < 500
      |            AND doc_id NOT IN (SELECT bid FROM drops2))
      |SELECT CAST(1 AS INT) AS day, doc_id FROM surv1
      |UNION ALL SELECT CAST(2 AS INT) AS day, doc_id FROM surv2
      |$extraUnion
      |ORDER BY day, doc_id""".stripMargin,
    // ONE band self-join produces both days' candidates, and `hits` is
    // MATERIALIZED because DuckDB re-inlines CTEs per reference — each
    // extra reference downstream of `bands` re-evaluates the whole XXH64
    // chain (measured: 70 s with two hits references, 30.6 s
    // materialized; materializing the BIG CTEs instead was 220 s).
    // "The appended index" is equivalently the LATE filter restricting
    // day-2 partners to corpus ∪ day-1 SURVIVORS, because the appended
    // rows are exactly surv1's band tuples.
    candSql =
      """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
        |         WHERE (a.doc_id >= 250 AND a.doc_id < 375 AND b.doc_id < 250)
        |            OR (a.doc_id >= 375 AND a.doc_id < 500 AND b.doc_id < 375))""".stripMargin)

  /** The shared LPA replay: the sparsified generator graph (ke0 → kund/
    * ksym/kids) and four unrolled synchronous rounds (lp0 → lp4), each a
    * neighbor-label count + row_number argmax (most frequent, ties to the
    * smallest label) — exactly [[graft.functions.Graph.labelPropagation]]
    * with iterations = 4. `pl_communities` selects the assignment;
    * `pl_modularity` scores it. */
  private def lpaCtes: String = {
    def round(i: Int): String = {
      val prev = s"lp${i - 1}"
      s"""lpn$i AS (SELECT s.v AS id, l.lab, count(*) AS n
         |        FROM ksym s JOIN $prev l ON s.u = l.id
         |        GROUP BY s.v, l.lab),
         |lpw$i AS (SELECT id, lab FROM (
         |    SELECT id, lab, row_number() OVER (PARTITION BY id
         |      ORDER BY n DESC, lab) AS rn FROM lpn$i) WHERE rn = 1),
         |lp$i AS (SELECT p.id, coalesce(w.lab, p.lab) AS lab
         |        FROM $prev p LEFT JOIN lpw$i w USING (id))""".stripMargin
    }
    s"""ke0 AS (
       |  SELECT doc_id % 60 AS s, (doc_id * 7 + 1) % 60 AS d
       |  FROM documents WHERE doc_id % 60 < 50
       |  UNION ALL
       |  SELECT doc_id % 60, (doc_id * 13 + 2) % 60
       |  FROM documents WHERE doc_id % 60 < 25
       |  UNION ALL
       |  SELECT (doc_id * 3) % 60, (doc_id * 11 + 5) % 60
       |  FROM documents WHERE doc_id % 60 < 12),
       |kund AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
       |         FROM ke0 WHERE s <> d),
       |ksym AS (SELECT a AS u, b AS v FROM kund
       |         UNION ALL SELECT b, a FROM kund),
       |kids AS (SELECT DISTINCT u AS id FROM ksym),
       |lp0 AS (SELECT id, id AS lab FROM kids),
       |${(1 to 4).map(round).mkString(",\n")}""".stripMargin
  }

  /** The level-1 Louvain move pass over the lp4 seed — the DuckDB
    * replay of [[graft.functions.Graph.louvainRefine]], shared by
    * `pl_louvain_refine` (selects `l1`) and `pl_louvain_two_level`
    * (condenses by `l1` and runs the weighted level-2 pass). Assumes
    * [[lpaCtes]] (kund/ksym/lp4) precede it; candidate gains in HUGEINT
    * replay q·2m·(k_ib − k_ia) − p·k_i·(D_b − D_a + k_i) exactly —
    * the γ = p/q resolution-scaled gain, (1, 1) = classic modularity. */
  private def louvainL1Ctes(p: Long = 1L, q: Long = 1L): String =
    s"""deg AS (SELECT id, count(*) AS deg FROM
      |  (SELECT a AS id FROM kund UNION ALL SELECT b FROM kund)
      |  GROUP BY 1),
      |dtot AS (SELECT l.lab AS c, CAST(sum(d.deg) AS BIGINT) AS dd
      |         FROM deg d JOIN lp4 l ON d.id = l.id GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM kund),
      |kuc AS (SELECT s.u, l.lab AS c, CAST(count(*) AS BIGINT) AS k
      |        FROM ksym s JOIN lp4 l ON s.v = l.id GROUP BY 1, 2),
      |cur AS (SELECT l.id AS u, l.lab AS a, d.deg AS ki
      |        FROM lp4 l JOIN deg d ON l.id = d.id),
      |ka AS (SELECT cur.u, cur.a, cur.ki, coalesce(k.k, 0) AS ka
      |       FROM cur LEFT JOIN kuc k
      |         ON cur.u = k.u AND k.c = cur.a),
      |candg AS (SELECT ka.u, kuc.c AS b,
      |    $q * 2 * CAST(m.m AS HUGEINT) * (kuc.k - ka.ka)
      |      - $p * CAST(ka.ki AS HUGEINT) * (db.dd - da.dd + ka.ki) AS gain
      |  FROM ka JOIN kuc ON ka.u = kuc.u AND kuc.c != ka.a
      |       JOIN dtot db ON kuc.c = db.c
      |       JOIN dtot da ON ka.a = da.c
      |       CROSS JOIN m),
      |best AS (SELECT u, b, gain FROM (
      |    SELECT u, b, gain, row_number() OVER (PARTITION BY u
      |      ORDER BY gain DESC, b) AS rn FROM candg) WHERE rn = 1),
      |l1 AS MATERIALIZED (
      |  -- MATERIALIZED: downstream consumers (the two-level gate's
      |  -- condense references l1 twice, the final projection once) would
      |  -- otherwise re-inline the whole LPA + refine chain per reference
      |  -- — DuckDB re-expands CTEs, and each expansion re-opens the
      |  -- documents parquet until the process fd limit trips
      |  SELECT l.id, CAST(CASE WHEN best.gain > 0 THEN best.b
      |    ELSE l.lab END AS BIGINT) AS community
      |  FROM lp4 l LEFT JOIN best ON l.id = best.u)""".stripMargin

  /** The full two-level-Leiden oracle (see `pl_leiden_two_level`'s
    * comment) with the RESOLUTION γ = p/q threaded through both move
    * passes' gains — (1, 1) is the classic-modularity gate; the γ gate
    * replays the identically-scaled integer gains at p/q ≠ 1. */
  private def leidenTwoLevelOracleSql(p: Long, q: Long): String =
    s"""WITH RECURSIVE $lpaCtes,
         |${louvainL1Ctes(p, q)},
         |intra AS (SELECT k.a, k.b FROM kund k
         |            JOIN l1 x ON k.a = x.id
         |            JOIN l1 y ON k.b = y.id
         |          WHERE x.community = y.community),
         |isym AS (SELECT a AS s, b AS d FROM intra
         |         UNION ALL SELECT b, a FROM intra),
         |reach(id, r) AS (
         |  SELECT id, id FROM l1
         |  UNION
         |  SELECT isym.d, reach.r FROM reach JOIN isym ON reach.id = isym.s),
         |ls AS MATERIALIZED (
         |  -- the repaired level-1 assignment: 4 downstream references
         |  SELECT id, min(r) AS community FROM reach GROUP BY id),
         |cond AS MATERIALIZED (
         |         SELECT least(a1.community, b1.community) AS ca,
         |                greatest(a1.community, b1.community) AS cb,
         |                CAST(count(*) AS BIGINT) AS w
         |         FROM kund k JOIN ls a1 ON k.a = a1.id
         |                     JOIN ls b1 ON k.b = b1.id
         |         GROUP BY 1, 2),
         |plain2 AS (SELECT ca AS a, cb AS b, w FROM cond WHERE ca <> cb),
         |loops2 AS (SELECT ca AS id, 2 * w AS wl FROM cond WHERE ca = cb),
         |sym2 AS (SELECT a AS u, b AS v, w FROM plain2
         |         UNION ALL SELECT b, a, w FROM plain2),
         |degp2 AS (SELECT u AS id, CAST(sum(w) AS BIGINT) AS dp
         |          FROM sym2 GROUP BY 1),
         |ids2 AS (SELECT DISTINCT community AS id FROM ls),
         |deg2 AS (SELECT ids2.id,
         |           coalesce(dp, 0) + coalesce(wl, 0) AS k
         |         FROM ids2 LEFT JOIN degp2 USING (id)
         |                   LEFT JOIN loops2 USING (id)),
         |m2 AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM cond),
         |cg2 AS (SELECT s.u, s.v AS b,
         |          $q * 2 * CAST(m2.m AS HUGEINT) * s.w
         |            - $p * CAST(du.k AS HUGEINT) * db.k AS gain
         |        FROM sym2 s JOIN deg2 du ON s.u = du.id
         |                    JOIN deg2 db ON s.v = db.id
         |                    CROSS JOIN m2
         |        WHERE s.v < s.u),
         |best2 AS (SELECT u, b, gain FROM (
         |    SELECT u, b, gain, row_number() OVER (PARTITION BY u
         |      ORDER BY gain DESC, b) AS rn FROM cg2) WHERE rn = 1),
         |l2 AS MATERIALIZED (
         |  SELECT i.id, CAST(CASE WHEN best2.gain > 0 THEN best2.b
         |         ELSE i.id END AS BIGINT) AS c2
         |       FROM ids2 i LEFT JOIN best2 ON i.id = best2.u),
         |intra2 AS (SELECT p.a, p.b FROM plain2 p
         |             JOIN l2 x ON p.a = x.id
         |             JOIN l2 y ON p.b = y.id
         |           WHERE x.c2 = y.c2),
         |isym2 AS (SELECT a AS s, b AS d FROM intra2
         |          UNION ALL SELECT b, a FROM intra2),
         |reach2(id, r) AS (
         |  SELECT id, id FROM l2
         |  UNION
         |  SELECT isym2.d, reach2.r
         |  FROM reach2 JOIN isym2 ON reach2.id = isym2.s),
         |s2 AS (SELECT id, min(r) AS c FROM reach2 GROUP BY id)
         |SELECT ls.id, s2.c AS community
         |FROM ls JOIN s2 ON ls.community = s2.id
         |ORDER BY ls.id""".stripMargin

  /** (4-round LPA seed, fixture edges) for the community gates. The
    * seed is a projection over LPA's last round, which is already
    * checkpointed, so a gate that reads it several times (modularity's
    * joins, the Louvain move pass) reads materialized rows. Gates that
    * build further levels pass both values on to [[louvainL1]] and
    * [[leidenL1]] instead of recomputing them. */
  private def lpaSeedGraph(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val (verts, edges) = lpaGeneratorGraph(s, d)
    val seed = graft.functions.Graph.labelPropagation(
      verts, edges, iterations = 4)
    (seed, edges)
  }

  /** γ = 1 level-1 Louvain move pass over an LPA seed: the level-1
    * assignment of the refine, connectivity, split, two-level and score
    * gates. Stats-severed checkpoint because the two-level loops join it
    * repeatedly. */
  private def louvainL1(seed: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftColumnBridge.localCheckpointNoStats(
      graft.functions.Graph.louvainRefine(seed, edges))

  /** ... and its Leiden repair (splitDisconnected of a [[louvainL1]]
    * assignment), used by `pl_leiden_split` and `pl_leiden_two_level`. */
  private def leidenL1(l1: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftColumnBridge.localCheckpointNoStats(
      graft.functions.Graph.splitDisconnected(l1, edges))

  /** The Spark twin of [[lpaCtes]]'s generator: (vertices, edges). */
  private def lpaGeneratorGraph(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val docs = Tables.load(s, d, "documents")
    val r = col("doc_id") % 60
    val edges = docs.filter(r < 50).select(
      (col("doc_id") % 60).as("src"),
      ((col("doc_id") * 7 + 1) % 60).as("dst"))
      .unionByName(docs.filter(r < 25).select(
        (col("doc_id") % 60).as("src"),
        ((col("doc_id") * 13 + 2) % 60).as("dst")))
      .unionByName(docs.filter(r < 12).select(
        ((col("doc_id") * 3) % 60).as("src"),
        ((col("doc_id") * 11 + 5) % 60).as("dst")))
    val verts = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
    (verts, edges)
  }

  /** The `pl_bm25_index` oracle: three full BM25 replays (the `pl_bm25`
    * SQL shape) over the index's three lifecycle states — built corpus,
    * after-append, after-delete — because a probe of the persisted index
    * must score EXACTLY like a from-scratch BM25 over the equivalent
    * corpus (statistics from meta deltas included). Per-term scores sum
    * in fixed term order on both sides (float addition is not
    * associative). */
  private def bm25IndexOracleSql: String = bm25LifecycleOracleSql(Seq(
    "doc_id < 250", "doc_id < 375", "doc_id < 375 AND doc_id % 5 <> 0"))

  /** Generalized N-state form: one full BM25 replay per lifecycle
    * predicate, each tagged with its day index. `pl_bm25_versioned`
    * adds a fourth state — a probe BETWEEN delete and compact — whose
    * predicate equals the post-delete one: on a healthy history the
    * delta-summed meta is bit-identical to the recount, so the
    * pre-compact probe must already score like the from-scratch corpus
    * (this is exactly the window the round-13 meta-bypass bug got
    * wrong). */
  private def bm25LifecycleOracleSql(preds: Seq[String]): String = {
    val terms = Seq("table", "query", "spark")
    val inList = terms.map(t => s"'$t'").mkString(", ")
    def day(i: Int, pred: String): String = {
      val sum = terms.map(t =>
        s"coalesce(max(CASE WHEN token = '$t' THEN score_t END), " +
          "CAST(0 AS DOUBLE))").reduce((a, b) => s"($a + $b)")
      s"""tok$i AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(text, '\\s+'),
         |                       x -> len(x) > 0)) AS token
         |  FROM documents WHERE $pred),
         |dl$i AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         |         FROM tok$i GROUP BY 1),
         |st$i AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |                CAST(sum(dl) AS BIGINT) AS total_dl FROM dl$i),
         |tf$i AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |         FROM tok$i WHERE token IN ($inList) GROUP BY 1, 2),
         |dfq$i AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |          FROM tf$i GROUP BY 1),
         |sc$i AS (SELECT tf.doc_id, tf.token,
         |    ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
         |      * (tf * CAST(2.2 AS DOUBLE))
         |      / (tf + CAST(1.2 AS DOUBLE)
         |           * (CAST(0.25 AS DOUBLE)
         |              + CAST(0.75 AS DOUBLE) * dl * n_docs / total_dl)) AS score_t
         |  FROM tf$i tf JOIN dfq$i USING (token)
         |       JOIN dl$i dl ON dl.doc_id = tf.doc_id CROSS JOIN st$i),
         |ag$i AS (SELECT doc_id, $sum AS score FROM sc$i GROUP BY 1),
         |tp$i AS (SELECT CAST($i AS INT) AS day, doc_id, score,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |      AS INTEGER) AS rank
         |  FROM (SELECT doc_id, score FROM ag$i
         |        ORDER BY score DESC, doc_id LIMIT 15))""".stripMargin
    }
    s"""WITH ${preds.zipWithIndex.map { case (p, i) => day(i, p) }
          .mkString(",\n")}
       |SELECT day, rank, doc_id, score FROM
       |  (${preds.indices.map(i => s"SELECT * FROM tp$i")
          .mkString(" UNION ALL ")})
       |ORDER BY day, rank""".stripMargin
  }

  /** Full XXH64 + MinHash + banded-bucket candidate generation in DuckDB
    * SQL (CTEs `docs` → `cand`), composed with a caller-supplied verify
    * tail; `candSql` overrides the default all-pairs self-join candidate
    * CTE (the incremental gate probes batch-vs-corpus instead).
    *
    * The SEED-INDEPENDENT halves of the round functions — `rnd0(word)`
    * in the tail-word fold and `mul(byte, P5)` in the tail-byte fold —
    * are hoisted into per-shingle precomputed lists (`prex.w8r0/bsp`)
    * instead of being re-derived inside the 64-seed loop: DuckDB
    * evaluates every textual occurrence of a scalar subexpression (the
    * nested mul/rotl macros reference their argument 2× each, so the
    * inline form cost ~16 HUGEINT multiplies per fold step), and the
    * hoist cuts each oracle from ~35 s to ~10 s at sf0.01 with
    * bit-identical output (same arithmetic, evaluated once per shingle
    * instead of once per (shingle, seed)). Five gates share this chain,
    * so the hoist keeps the whole DuckDB suite inside the driver's
    * wall-time budget. */
  private def minhashOracle(verifyTail: String,
      candSql: String = defaultMinhashCand,
      docsPred: String = "TRUE"): String = {
    val W = "18446744073709551616" // 2^64
    val P1 = "11400714785074694791"  // 0x9E3779B185EBCA87
    val P2 = "14029467366897019727"  // 0xC2B2AE3D27D4EB4F
    val P3 = "1609587929392839161"   // 0x165667B19E3779F9
    val P4 = "9650029242287828579"   // 0x85EBCA77C2B2AE63
    val P5 = "2870177450012600261"   // 0x27D4EB2F165667C5
    // (a*b) mod 2^64 with a,b < 2^64: split a at 2^32 so both partial
    // products stay below 2^96 (signed HUGEINT holds up to 2^127-1)
    def mul(a: String, b: String): String =
      s"((($a) % 4294967296) * ($b) + ((($a) // 4294967296) * ($b) % 4294967296) * 4294967296) % $W"
    def rotl(x: String, r: Int): String = {
      val lo = java.math.BigInteger.ONE.shiftLeft(64 - r).toString
      val sh = java.math.BigInteger.ONE.shiftLeft(r).toString
      s"((($x) % $lo) * $sh + ($x) // $lo)"
    }
    def rnd(acc: String, inp: String): String =
      mul(rotl(s"(($acc) + ${mul(inp, P2)}) % $W", 31), P1)
    def rnd0(inp: String): String = mul(rotl(mul(inp, P2), 31), P1)
    def mergeRnd(h: String, v: String): String =
      s"(${mul(s"xor(($h), ${rnd0(v)})", P1)} + $P4) % $W"
    // little-endian 8-byte word from the 1-based byte list at offset expr
    def word8(base: String): String =
      (0 until 8).map(j =>
        s"bs[$base+${j + 1}] * ${java.math.BigInteger.ONE.shiftLeft(8 * j)}")
        .mkString(" + ")
    val dword = "bs[CAST((n//8)*8+1 AS BIGINT)] + bs[CAST((n//8)*8+2 AS BIGINT)]*256 + " +
      "bs[CAST((n//8)*8+3 AS BIGINT)]*65536 + bs[CAST((n//8)*8+4 AS BIGINT)]*16777216"
    s"""WITH docs AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
       |  FROM documents WHERE $docsPred),
       |shs AS (SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> array_to_string(toks[i:i+2], ' '))) AS s
       |  FROM docs WHERE len(toks) >= 3),
       |ds AS (SELECT DISTINCT unnest(s) AS t FROM shs),
       |pre0 AS (SELECT t,
       |  list_transform(string_split(t,''), c -> CAST(unicode(c) AS HUGEINT)) AS bs,
       |  CAST(octet_length(encode(t)) AS HUGEINT) AS n FROM ds),
       |pre AS (SELECT t, bs, n, n // 32 AS nst,
       |  list_transform(range(0, CAST(n // 8 AS BIGINT)), i -> ${word8("8*i")}) AS w8
       |  FROM pre0),
       |prex AS (SELECT t, bs, n, nst, w8,
       |  list_transform(w8, w -> ${rnd0("w")}) AS w8r0,
       |  list_transform(bs, c -> ${mul("c", P5)}) AS bsp
       |  FROM pre),
       |sd AS (SELECT t, bs, n, nst, w8, w8r0, bsp,
       |       CAST(s.seed AS HUGEINT) AS seed FROM prex
       |       CROSS JOIN (SELECT unnest(range(0,64)) AS seed) s),
       |st AS (SELECT *, CASE WHEN nst > 0 THEN list_reduce(
       |    list_prepend({'a': (seed + $P1 + $P2) % $W, 'b': (seed + $P2) % $W,
       |                  'c': seed, 'd': (seed - $P1 + $W) % $W},
       |      list_transform(range(0, CAST(nst AS BIGINT)), i ->
       |        {'a': w8[4*i+1], 'b': w8[4*i+2], 'c': w8[4*i+3], 'd': w8[4*i+4]})),
       |    (s, u) -> {'a': ${rnd("s.a", "u.a")}, 'b': ${rnd("s.b", "u.b")},
       |               'c': ${rnd("s.c", "u.c")}, 'd': ${rnd("s.d", "u.d")}})
       |  ELSE NULL END AS v FROM sd),
       |m0 AS (SELECT *, CASE WHEN nst > 0 THEN
       |    (${rotl("v.a", 1)} + ${rotl("v.b", 7)} + ${rotl("v.c", 12)} + ${rotl("v.d", 18)}) % $W
       |  ELSE (seed + $P5) % $W END AS h FROM st),
       |m1 AS (SELECT * REPLACE (CASE WHEN nst > 0 THEN ${mergeRnd("h", "v.a")} ELSE h END AS h) FROM m0),
       |m2 AS (SELECT * REPLACE (CASE WHEN nst > 0 THEN ${mergeRnd("h", "v.b")} ELSE h END AS h) FROM m1),
       |m3 AS (SELECT * REPLACE (CASE WHEN nst > 0 THEN ${mergeRnd("h", "v.c")} ELSE h END AS h) FROM m2),
       |m4 AS (SELECT * REPLACE (CASE WHEN nst > 0 THEN ${mergeRnd("h", "v.d")} ELSE h END AS h) FROM m3),
       |l0 AS (SELECT * REPLACE ((h + n) % $W AS h) FROM m4),
       |l8 AS (SELECT * REPLACE (list_reduce(
       |    list_prepend(h, w8r0[CAST(nst*4+1 AS BIGINT):CAST(n//8 AS BIGINT)]),
       |    (h, w) -> (${mul(rotl("xor(h, w)", 27), P1)} + $P4) % $W) AS h) FROM l0),
       |l4 AS (SELECT * REPLACE (CASE WHEN n % 8 >= 4 THEN
       |    (${mul(rotl(s"xor(h, ${mul(dword, P1)})", 23), P2)} + $P3) % $W
       |  ELSE h END AS h) FROM l8),
       |l1 AS (SELECT * REPLACE (list_reduce(
       |    list_prepend(h, bsp[CAST((n//8)*8 + CASE WHEN n % 8 >= 4 THEN 4 ELSE 0 END + 1 AS BIGINT):CAST(n AS BIGINT)]),
       |    (h, c) -> ${mul(rotl("xor(h, c)", 11), P1)}) AS h) FROM l4),
       |a1 AS (SELECT * REPLACE (xor(h, h // 8589934592) AS h) FROM l1),
       |a2 AS (SELECT * REPLACE (${mul("h", P2)} AS h) FROM a1),
       |a3 AS (SELECT * REPLACE (xor(h, h // 536870912) AS h) FROM a2),
       |a4 AS (SELECT * REPLACE (${mul("h", P3)} AS h) FROM a3),
       |a5 AS (SELECT * REPLACE (xor(h, h // 4294967296) AS h) FROM a4),
       |hv AS (SELECT t,
       |  CAST(CASE WHEN h >= 9223372036854775808 THEN h - $W ELSE h END AS BIGINT) AS hv,
       |  CAST(seed AS BIGINT) AS seed FROM a5),
       |docsh AS (SELECT doc_id, unnest(s) AS t FROM shs),
       |sigs AS (SELECT doc_id, seed, min(hv) AS mh FROM docsh JOIN hv USING (t)
       |         GROUP BY doc_id, seed),
       |sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM sigs GROUP BY doc_id),
       |bands AS (SELECT doc_id, b, array_to_string(sig[4*b+1:4*b+4], ',') AS bucket
       |          FROM sig CROSS JOIN (SELECT unnest(range(0,16)) AS b)),
       |$candSql,
       |$verifyTail""".stripMargin
  }

  private val defaultMinhashCand: String =
    """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
      |         WHERE a.doc_id < b.doc_id)""".stripMargin

  /** Shared SQL fragments for the sign-LSH oracles: mod-2^64 arithmetic
    * (HUGEINT with the left multiplicand split at 2^32), `XXH64.hashInt`
    * (the 4-byte specialization SignBits uses for plane components), and
    * sequential left-fold double arithmetic — `list_reduce` folds run in
    * array order, exactly the kernels' loop order, so every double is
    * bit-identical cross-engine (IEEE ops in the same sequence).
    */
  private[queries] object SignLshSql {
    val W = "18446744073709551616" // 2^64
    val P1 = "11400714785074694791"
    val P2 = "14029467366897019727"
    val P3 = "1609587929392839161"
    val P5 = "2870177450012600261"
    def mul(a: String, b: String): String =
      s"((($a) % 4294967296) * ($b) + ((($a) // 4294967296) * ($b) % 4294967296) * 4294967296) % $W"
    def rotl(x: String, r: Int): String = {
      val lo = java.math.BigInteger.ONE.shiftLeft(64 - r).toString
      val sh = java.math.BigInteger.ONE.shiftLeft(r).toString
      s"((($x) % $lo) * $sh + ($x) // $lo)"
    }
    /** CTE chain computing XXH64.hashInt(ivar, seedvar) into column `h`. */
    def hashIntCtes(tag: String, ivar: String, seedvar: String, src: String): String =
      s"""${tag}0 AS (SELECT *, (($seedvar) + $P5 + 4) % $W AS h FROM $src),
         |${tag}1 AS (SELECT * REPLACE (xor(h, ${mul(ivar, P1)}) AS h) FROM ${tag}0),
         |${tag}2 AS (SELECT * REPLACE ((${mul(rotl("h", 23), P2)} + $P3) % $W AS h) FROM ${tag}1),
         |${tag}3 AS (SELECT * REPLACE (xor(h, h // 8589934592) AS h) FROM ${tag}2),
         |${tag}4 AS (SELECT * REPLACE (${mul("h", P2)} AS h) FROM ${tag}3),
         |${tag}5 AS (SELECT * REPLACE (xor(h, h // 536870912) AS h) FROM ${tag}4),
         |${tag}6 AS (SELECT * REPLACE (${mul("h", P3)} AS h) FROM ${tag}5),
         |${tag}7 AS (SELECT * REPLACE (xor(h, h // 4294967296) AS h) FROM ${tag}6)""".stripMargin
    /** Plane-component table `planes(p, comps double[])`: comp(p,j) =
      * floorMod(signed(hashInt(j, hashInt(p, 42))), 1e5)/1e5 − 0.5,
      * matching [[graft.functions.SignBitsUtil]]. `nPlanesSql` may be an
      * expression (e.g. a cfg scalar subquery). */
    def planesCtes(nPlanesSql: String, dim: Int): String =
      s"""grid AS (SELECT pp.p, jj.j FROM (SELECT unnest(range(0,$nPlanesSql)) AS p) pp
         |         CROSS JOIN (SELECT unnest(range(0,$dim)) AS j) jj),
         |${hashIntCtes("gp", "CAST(p AS HUGEINT)", "CAST(42 AS HUGEINT)", "grid")},
         |gseed AS (SELECT p, j, h AS hp FROM gp7),
         |${hashIntCtes("gj", "CAST(j AS HUGEINT)", "hp", "gseed")},
         |compv AS (SELECT p, j,
         |    CAST((((CASE WHEN h >= 9223372036854775808 THEN h - $W ELSE h END) % 100000)
         |          + 100000) % 100000 AS DOUBLE) / 100000.0 - 0.5 AS comp
         |  FROM gj7),
         |planes AS (SELECT p, list(comp ORDER BY j) AS comps FROM compv GROUP BY p)""".stripMargin
    private def fold(body: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $body), (a, x) -> a + x)"
    /** Per-vector sign bits `bits(vec_id, embedding, bits int[])`. */
    def bitsCtes(dim: Int): String = {
      val s = fold(s"list_transform(range(1,${dim + 1}), " +
        "j -> CAST(e.embedding[j] AS DOUBLE) * pl.comps[j])")
      s"""vb AS (SELECT e.vec_id, e.embedding, pl.p,
         |    CASE WHEN $s >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN planes pl),
         |bits AS (SELECT vec_id, embedding, list(bit ORDER BY p) AS bits
         |         FROM vb GROUP BY vec_id, embedding)""".stripMargin
    }
    /** Exact [[graft.functions.CosineUtil]] mirror: three sequential folds
      * (dot, |a|², |b|²) — per-accumulator order equals the kernel's
      * single-pass loop, so the double is bit-identical. */
    def cosine(a: String, b: String, dim: Int): String = {
      val r = s"range(1,${dim + 1})"
      val dot = fold(s"list_transform($r, j -> CAST($a[j] AS DOUBLE) * CAST($b[j] AS DOUBLE))")
      val na = fold(s"list_transform($r, j -> CAST($a[j] AS DOUBLE) * CAST($a[j] AS DOUBLE))")
      val nb = fold(s"list_transform($r, j -> CAST($b[j] AS DOUBLE) * CAST($b[j] AS DOUBLE))")
      s"($dot) / (sqrt($na) * sqrt($nb))"
    }
    val P4 = "9650029242287828579"
    /** CTE chain computing XXH64.hashLong(lvar, seedvar) into column `h`
      * (the 8-byte specialization Spark's `xxhash64` uses on a long). */
    def hashLongCtes(tag: String, lvar: String, seedvar: String, src: String): String = {
      val k1 = mul(rotl(mul(lvar, P2), 31), P1)
      s"""${tag}0 AS (SELECT *, xor((($seedvar) + $P5 + 8) % $W, $k1) AS h FROM $src),
         |${tag}1 AS (SELECT * REPLACE ((${mul(rotl("h", 27), P1)} + $P4) % $W AS h) FROM ${tag}0),
         |${tag}2 AS (SELECT * REPLACE (xor(h, h // 8589934592) AS h) FROM ${tag}1),
         |${tag}3 AS (SELECT * REPLACE (${mul("h", P2)} AS h) FROM ${tag}2),
         |${tag}4 AS (SELECT * REPLACE (xor(h, h // 536870912) AS h) FROM ${tag}3),
         |${tag}5 AS (SELECT * REPLACE (${mul("h", P3)} AS h) FROM ${tag}4),
         |${tag}6 AS (SELECT * REPLACE (xor(h, h // 4294967296) AS h) FROM ${tag}5)""".stripMargin
    }
    /** [[graft.functions.NearestCellsUtil]] mirror for a float vector vs a
      * double centroid list: the kernel computes the vector norm once and
      * dot/centroid-norm per cell — three independent sequential folds,
      * same per-accumulator order. */
    def cosineVsCent(vcol: String, ccol: String, dim: Int): String = {
      val r = s"range(1,${dim + 1})"
      val dot = fold(s"list_transform($r, j -> CAST($vcol[j] AS DOUBLE) * $ccol[j])")
      val nc = fold(s"list_transform($r, j -> $ccol[j] * $ccol[j])")
      val nv = fold(s"list_transform($r, j -> CAST($vcol[j] AS DOUBLE) * CAST($vcol[j] AS DOUBLE))")
      s"($dot) / (sqrt($nv) * sqrt($nc))"
    }
  }

  /** DuckDB replay of [[graft.functions.Similarity.centroidTrain]] +
    * `centroidClassifyScored` over the labeled embeddings: per-label
    * exact scaled-long sums → the Lloyd mean formula (one IEEE double
    * division rounded through float) → nano-rounded cosine per class →
    * argmax with ties to the smaller stringified label, runner-up score
    * alongside. Ends in `crk(vec_id, label, cn, rn, nxt)`. */
  private val centroidOracleCtes: String = {
    import SignLshSql._
    val dim = 64
    s"""seed AS (SELECT CAST(label AS VARCHAR) AS label, embedding
       |             FROM embeddings WHERE vec_id < 300),
       |csums AS (SELECT label, j,
       |    SUM(CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM seed CROSS JOIN (SELECT unnest(range(1,${dim + 1})) AS j) jj
       |  GROUP BY label, j),
       |ccents AS (SELECT label,
       |    list(CAST(CAST(CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS FLOAT) AS DOUBLE) ORDER BY j) AS cent
       |  FROM csums GROUP BY label),
       |cprobe AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE vec_id >= 300),
       |csc AS (SELECT p.vec_id, c.label,
       |    CAST(round(${cosineVsCent("p.embedding", "c.cent", dim)} * 1e9)
       |      AS BIGINT) AS cn
       |  FROM cprobe p CROSS JOIN ccents c),
       |crk AS (SELECT vec_id, label, cn,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cn DESC, label) AS rn,
       |    lead(cn) OVER (PARTITION BY vec_id
       |      ORDER BY cn DESC, label) AS nxt
       |  FROM csc)""".stripMargin
  }

  /** DuckDB mirror of [[Similarity.ivfTopK]] (nCells=16, nProbe=4) — now
    * replayable because the Lloyd sweep is exact: seed order from
    * XXH64.hashLong(vec_id, 42) (signed compare), phase-A/B assignment via
    * the NearestCells cosine with ties to the LARGER cell index, refined
    * centroids from partition-invariant 1e6-scaled long sums with one
    * double division rounded through float, empty cells keeping their
    * seed. Bit-exact at all three SFs.
    */
  /** Shared CTE chain of the IVF coarse quantizer (ids → bcell):
    * deterministic hash-ordered seeds, ONE integer-exact Lloyd sweep,
    * final nearest-cell assignment — the DuckDB replay of
    * [[graft.functions.Similarity.ivfAssign]]. Compose after WITH;
    * exposes `bcell(vec_id, cell)` (and `pb` for probe lists). */
  private def ivfAssignCtes(dim: Int): String = {
    import SignLshSql._
    s"""ids AS (SELECT vec_id, embedding, CAST(vec_id AS HUGEINT) AS l FROM embeddings),
       |${hashLongCtes("hl", "l", "CAST(42 AS HUGEINT)", "ids")},
       |hord AS (SELECT vec_id, embedding,
       |    CASE WHEN h >= 9223372036854775808 THEN h - $W ELSE h END AS sh FROM hl6),
       |seeds AS (SELECT CAST(row_number() OVER (ORDER BY sh, vec_id) AS INT) - 1 AS cell,
       |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
       |          FROM hord ORDER BY sh LIMIT 16),
       |pa AS (SELECT e.vec_id, e.embedding, s.cell,
       |    ${cosineVsCent("e.embedding", "s.cent", dim)} AS score
       |  FROM embeddings e CROSS JOIN seeds s),
       |a0 AS (SELECT vec_id, embedding, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn FROM pa)
       |  WHERE rn = 1),
       |sums AS (SELECT cell, j,
       |    SUM(CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM a0 CROSS JOIN (SELECT unnest(range(1,${dim + 1})) AS j) jj GROUP BY cell, j),
       |ref0 AS (SELECT cell,
       |    list(CAST(CAST(CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS FLOAT) AS DOUBLE) ORDER BY j) AS cent
       |  FROM sums GROUP BY cell),
       |refined AS (SELECT s.cell, coalesce(r.cent, s.cent) AS cent
       |            FROM seeds s LEFT JOIN ref0 r ON s.cell = r.cell),
       |pb AS (SELECT e.vec_id, s.cell, ${cosineVsCent("e.embedding", "s.cent", dim)} AS score
       |  FROM embeddings e CROSS JOIN refined s),
       |bcell AS (SELECT vec_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn FROM pb)
       |  WHERE rn = 1)""".stripMargin
  }

  /** The gate-side training and corpus-index helpers below are plain
    * functions of (sfDir, hyperparameters): every call trains or encodes
    * from the parquet inputs, so a gate pays for its own model in every
    * execution and no state outlives the call. DataFrame members are
    * localCheckpoint-materialized because each gate reads them more than
    * once (save, probe, append); array models are driver-held (k × dim
    * bounded). A gate that fits once and scores many times holds the
    * fitted value in a local of its own body. */
  private def nbGateModel(s: org.apache.spark.sql.SparkSession,
      d: String): graft.functions.TextAnalysis.NbModel = {
    val m = TextAnalysis.nbTrain(
      Tables.load(s, d, "documents").filter(col("doc_id") < 300),
      "source", "text")
    graft.functions.TextAnalysis.NbModel(
      m.priors.localCheckpoint(), m.tokenLogProbs.localCheckpoint())
  }

  private def gateEmb(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.load(s, d, "embeddings")

  private def kmeansGateModel(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int, sweeps: Int): Array[Array[Float]] =
    Similarity.kmeansTrain(gateEmb(s, d), "vec_id", "embedding",
      k = k, sweeps = sweeps)

  private def centroidGateModel(s: org.apache.spark.sql.SparkSession,
      d: String): Similarity.CentroidModel =
    Similarity.centroidTrain(
      gateEmb(s, d).filter(col("vec_id") < 300), "embedding", "label")

  private def pqGateIndex(s: org.apache.spark.sql.SparkSession,
      d: String): Similarity.PqIndex = {
    val ix = Similarity.pqIndex(gateEmb(s, d), "vec_id", "embedding")
    Similarity.PqIndex(ix.codes.localCheckpoint(), ix.books)
  }

  private def ivfPqGateIndex(s: org.apache.spark.sql.SparkSession,
      d: String): Similarity.IvfPqIndex = {
    val ix = Similarity.ivfPqIndex(gateEmb(s, d), "vec_id", "embedding")
    ix.copy(cellCodes = ix.cellCodes.localCheckpoint())
  }

  private def ivfAdcGateIndex(s: org.apache.spark.sql.SparkSession,
      d: String): Similarity.IvfPqIndex = {
    val ix = Similarity.ivfAdcIndex(gateEmb(s, d), "vec_id", "embedding")
    ix.copy(cellCodes = ix.cellCodes.localCheckpoint())
  }

  /** BM25 postings and lengths of a gate corpus (the postings are
    * checkpointed inside bm25IndexRows). Every BM25 gate still writes
    * its own index dir and runs its own maintenance verbs. */
  private def bm25GateRows(corpus: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (p, l) = Retrieval.bm25IndexRows(corpus, "doc_id", "text")
    (p, l.localCheckpoint())
  }

  private def minhashGateIndex(s: org.apache.spark.sql.SparkSession,
      d: String): Dedup.MinhashIndex = {
    val ix = Dedup.minhashIndex(
      Tables.load(s, d, "documents").filter(col("doc_id") < 250),
      "doc_id", "text", n = 3, k = 64, rowsPerBand = 4)
    ix.copy(buckets = ix.buckets.localCheckpoint()) // sets already ck'd
  }

  /** The 6-merge BPE gate train of `pl_bpe_train`, `pl_bpe_encode` and
    * `pl_tokenize_pack`: (merges, syms), where syms is the loop's own
    * partitioning-preserving checkpoint and merges is driver-built. */
  private def bpeGateTrain(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val words = Tables.load(s, d, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wt"))
    Bpe.trainWithSymbols(s, words, "word", "word", "wt", 6)
  }

  private def hammingGateIndex(s: org.apache.spark.sql.SparkSession,
      d: String): Dedup.HammingIndex = {
    val docs = Tables.load(s, d, "documents")
    val ix = Dedup.hammingIndex(
      docs.filter(col("doc_id") < 250).select(col("doc_id"),
        Dedup.simhash(TextAnalysis.tokens(col("text"))).as("sh")),
      "doc_id", "sh", nBands = 8)
    ix.copy(buckets = ix.buckets.localCheckpoint())
  }

  /** DuckDB replay of the Naive Bayes train→score chain shared by
    * `pl_nb_classifier` and `pl_nb_filter`: train on the doc_id < 300
    * seed set labeled by `source`, score every doc_id ≥ 300 against
    * every class in exact HUGEINT nano arithmetic (mirroring the
    * engine's DECIMAL(38,0) sums term for term — both cast tf BEFORE
    * the tf·logp multiply), ending in `rk(doc_id, label, score, rn,
    * nxt)`: per-document classes ranked by score (ties to the smaller
    * label) with the runner-up's score alongside for the margin. */
  private val nbOracleCtes: String =
    """tr AS (SELECT source AS label, doc_id, text
      |            FROM documents WHERE doc_id < 300),
      |ttok AS (SELECT label,
      |    unnest(list_filter(string_split_regex(text, '\s+'),
      |                       x -> len(x) > 0)) AS token FROM tr),
      |tc AS (SELECT label, token, CAST(count(*) AS BIGINT) AS tf
      |       FROM ttok GROUP BY 1, 2),
      |ctot AS (SELECT label, CAST(sum(tf) AS BIGINT) AS tot
      |         FROM tc GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS V FROM tc),
      |nd AS (SELECT label, CAST(count(*) AS BIGINT) AS n
      |       FROM tr GROUP BY 1),
      |ntot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM tr),
      |tlp AS (SELECT label, token,
      |    CAST(round(ln(CAST(tf + 1 AS DOUBLE) / CAST(tot + V AS DOUBLE))
      |      * 1e9) AS BIGINT) AS lp
      |  FROM tc JOIN ctot USING (label) CROSS JOIN v),
      |pri AS (SELECT label,
      |    CAST(round(ln(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e9)
      |      AS BIGINT) AS prior,
      |    CAST(round(ln(CAST(1 AS DOUBLE) / CAST(tot + V AS DOUBLE))
      |      * 1e9) AS BIGINT) AS unseen
      |  FROM nd JOIN ctot USING (label) CROSS JOIN ntot CROSS JOIN v),
      |dtokl AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'),
      |                x -> len(x) > 0) AS t
      |  FROM documents WHERE doc_id >= 300),
      |dlen AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM dtokl),
      |dtf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS token FROM dtokl)
      |  GROUP BY 1, 2),
      |mt AS (SELECT dtf.doc_id, tlp.label,
      |    SUM(CAST(dtf.tf AS HUGEINT) * tlp.lp) AS ms,
      |    CAST(sum(dtf.tf) AS BIGINT) AS mtf
      |  FROM dtf JOIN tlp USING (token) GROUP BY 1, 2),
      |sc AS (SELECT d.doc_id, p.label,
      |    CAST(p.prior AS HUGEINT) + coalesce(mt.ms, 0)
      |      + CAST(d.n - coalesce(mt.mtf, 0) AS HUGEINT) * p.unseen
      |      AS score
      |  FROM dlen d CROSS JOIN pri p
      |       LEFT JOIN mt ON mt.doc_id = d.doc_id AND mt.label = p.label),
      |rk AS (SELECT doc_id, label, score,
      |    row_number() OVER (
      |      PARTITION BY doc_id ORDER BY score DESC, label) AS rn,
      |    lead(score) OVER (
      |      PARTITION BY doc_id ORDER BY score DESC, label) AS nxt
      |  FROM sc)""".stripMargin

  /** DuckDB replay of [[graft.functions.Similarity.kmeansAssign]]
    * (k = 12, sweeps = 3): the [[ivfAssignCtes]] chain with the Lloyd
    * sweep UNROLLED — per sweep an assignment argmax (cosine vs the
    * current centroids, ties to the larger cell) and an integer-exact
    * scaled-sum mean (one IEEE double division cast through float),
    * empty cells carrying their centroid forward via the coalesce. */
  private def kmeansOracleSql: String =
    s"""WITH $kmeansCtes
       |SELECT vec_id, cluster FROM kasn ORDER BY vec_id""".stripMargin

  /** Shared by `pl_kmeans` and `pl_cluster_sample`: the unrolled chain
    * ending in `kasn(vec_id, cluster)`. */
  private def kmeansCtes: String = kmeansCtes(12, "")

  /** [[kmeansCtes]] parameterized by k with every CTE name prefixed, so
    * several chains (the elbow gate's k ∈ {4, 12, 24}) coexist under
    * ONE `WITH`. The chain ends in `${pfx}kasn(vec_id, cluster)` and
    * `${pfx}pf(vec_id, cell, score)`. */
  private def kmeansCtes(k: Int, pfx: String): String = {
    import SignLshSql._
    val dim = 64
    val sweeps = 3
    def sweep(i: Int): String =
      s"""${pfx}p$i AS (SELECT e.vec_id, e.embedding, s.cell,
         |    ${cosineVsCent("e.embedding", "s.cent", dim)} AS score
         |  FROM embeddings e CROSS JOIN ${pfx}c$i s),
         |${pfx}a$i AS (SELECT vec_id, embedding, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn FROM ${pfx}p$i)
         |  WHERE rn = 1),
         |${pfx}sums$i AS (SELECT cell, j,
         |    SUM(CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM ${pfx}a$i CROSS JOIN (SELECT unnest(range(1,${dim + 1})) AS j) jj GROUP BY cell, j),
         |${pfx}ref$i AS (SELECT cell,
         |    list(CAST(CAST(CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS FLOAT) AS DOUBLE) ORDER BY j) AS cent
         |  FROM ${pfx}sums$i GROUP BY cell),
         |${pfx}c${i + 1} AS (SELECT s.cell, coalesce(r.cent, s.cent) AS cent
         |            FROM ${pfx}c$i s LEFT JOIN ${pfx}ref$i r ON s.cell = r.cell)""".stripMargin
    s"""${pfx}ids AS (SELECT vec_id, embedding, CAST(vec_id AS HUGEINT) AS l FROM embeddings),
       |${hashLongCtes(s"${pfx}hl", "l", "CAST(42 AS HUGEINT)", s"${pfx}ids")},
       |${pfx}hord AS (SELECT vec_id, embedding,
       |    CASE WHEN h >= 9223372036854775808 THEN h - $W ELSE h END AS sh FROM ${pfx}hl6),
       |${pfx}c0 AS (SELECT CAST(row_number() OVER (ORDER BY sh, vec_id) AS INT) - 1 AS cell,
       |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
       |       FROM ${pfx}hord ORDER BY sh LIMIT $k),
       |${(0 until sweeps).map(sweep).mkString(",\n")},
       |${pfx}pf AS (SELECT e.vec_id, s.cell,
       |    ${cosineVsCent("e.embedding", "s.cent", dim)} AS score
       |  FROM embeddings e CROSS JOIN ${pfx}c$sweeps s),
       |${pfx}kasn AS (SELECT vec_id, CAST(cell AS INTEGER) AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn FROM ${pfx}pf)
       |  WHERE rn = 1)""".stripMargin
  }

  /** DuckDB replay of [[Similarity.semDedup]]: same assignment CTEs,
    * then within-cell pairwise cosine — a vector drops when any lower-id
    * cell-mate clears the threshold. */
  private val semDedupOracleSql: String = {
    import SignLshSql._
    val dim = 64
    s"""WITH ${ivfAssignCtes(dim)},
       |pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bcell x JOIN bcell y ON x.cell = y.cell AND x.vec_id < y.vec_id),
       |scored AS (SELECT id_a, id_b,
       |    ${cosine("a.embedding", "b.embedding", dim)} AS score
       |  FROM pairs JOIN embeddings a ON pairs.id_a = a.vec_id
       |             JOIN embeddings b ON pairs.id_b = b.vec_id),
       |drops AS (SELECT DISTINCT id_b FROM scored WHERE score >= 0.3)
       |SELECT b.vec_id, b.cell FROM bcell b
       |WHERE b.vec_id NOT IN (SELECT id_b FROM drops)
       |ORDER BY b.vec_id""".stripMargin
  }

  /** The dHash-replay CTE chain shared by `pl_image_dedup` and
    * `pl_image_clusters`: cell values from the generating function,
    * 64 comparison bits, all-pairs Hamming distances (`dists`). */
  private val imageDedupCtes: String =
    """ids AS (SELECT doc_id FROM documents WHERE doc_id < 240),
      |cells AS (
      |  SELECT doc_id, cx, cy,
      |    ((((doc_id // 4 + 1) * (cx + 3) * (cy + 5) * 2654435761)
      |      % 97) % 2) * 150 + 40
      |    + CASE WHEN doc_id % 4 > 0 AND cx = doc_id % 4
      |                AND cy = ((doc_id % 4) * 3) % 8
      |           THEN 50 ELSE 0 END AS g
      |  FROM ids, unnest(range(0, 9)) AS ux(cx),
      |            unnest(range(0, 8)) AS uy(cy)),
      |bits AS (
      |  SELECT a.doc_id, a.cy * 8 + a.cx AS i,
      |         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |dists AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS d
      |  FROM bits a JOIN bits b ON a.i = b.i AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** The PQ codebook-learn + encode CTE chain (round 9), shared by the
    * standalone `pl_ann_pq` oracle and the IVF-PQ composition: assumes
    * `ids`/`hl*`/`hord` (the hash-ordered seed chain) are already
    * defined; produces `pqbcode(vec_id, mi, code)` and
    * `pqrsc(mi, code, cs)` — every arithmetic step integer or one IEEE
    * division, so ADC ranks and scores hash-match.
    */
  private def pqCtes: String = pqCtesOver(
    """pqin AS (SELECT vec_id, embedding AS fv,
      |       list_transform(embedding,
      |         x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS s
      |     FROM embeddings)""".stripMargin)

  /** The PQ codebook-learn + encode chain over ANY input `pqin`
    * (vec_id, fv FLOAT[], s BIGINT[] — s must be the HALF_UP 1e6
    * scaling of fv, which every caller guarantees by construction):
    * seeds are the hash-ordered first ksub input rows (riding the
    * shared `hord` chain), one exact-integer Lloyd sweep, final code
    * assignment. Exposes `pqsv`, `pqrsc`, `pqbcode`. The raw-embedding
    * instantiation is [[pqCtes]]; the residual-IVFADC oracle feeds the
    * integer residuals instead. */
  private def pqCtesOver(inputCte: String): String = {
    val m = 8; val ksub = 16; val sub = 8
    def l2(mi: String, svec: String, cvec: String): String =
      (1 to sub).map { j =>
        s"(($svec[$mi*$sub+$j]) - ($cvec[$mi*$sub+$j])) * " +
          s"(($svec[$mi*$sub+$j]) - ($cvec[$mi*$sub+$j]))"
      }.mkString(" + ")
    s"""$inputCte,
       |pqsv AS (SELECT vec_id, s FROM pqin),
       |pqseeds AS (SELECT CAST(row_number() OVER (ORDER BY h.sh, h.vec_id) AS INT) - 1 AS ci,
       |          i.fv, i.s FROM hord h JOIN pqin i USING (vec_id)
       |          ORDER BY h.sh LIMIT $ksub),
       |pqscents AS (SELECT ci, s, fv AS embedding FROM pqseeds),
       |pqmis AS (SELECT unnest(range(0, $m)) AS mi),
       |pqpa0 AS (SELECT v.vec_id, pqmis.mi, c.ci,
       |          ${l2("pqmis.mi", "v.s", "c.s")} AS d
       |        FROM pqsv v CROSS JOIN pqscents c CROSS JOIN pqmis),
       |pqa0 AS (SELECT vec_id, mi, ci AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, mi
       |      ORDER BY d, ci) AS rn FROM pqpa0) WHERE rn = 1),
       |pqsums AS (SELECT pqa0.mi, pqa0.code, j,
       |          SUM(v.s[pqa0.mi*$sub+j]) AS sm, count(*) AS n
       |        FROM pqa0 JOIN pqsv v USING (vec_id)
       |        CROSS JOIN (SELECT unnest(range(1, ${sub + 1})) AS j) jj
       |        GROUP BY pqa0.mi, pqa0.code, j),
       |pqref AS (SELECT mi, code, list(CAST(CAST(CAST(sm AS DOUBLE) /
       |          CAST(n * 1000000 AS DOUBLE) AS FLOAT) AS DOUBLE)
       |          ORDER BY j) AS cent
       |        FROM pqsums GROUP BY mi, code),
       |pqseedsl AS (SELECT pqmis.mi, c.ci AS code,
       |          list_transform(c.embedding[pqmis.mi*$sub+1 : pqmis.mi*$sub+$sub],
       |            x -> CAST(x AS DOUBLE)) AS cent
       |        FROM pqscents c CROSS JOIN pqmis),
       |pqrefined AS (SELECT s.mi, s.code, coalesce(r.cent, s.cent) AS cent
       |            FROM pqseedsl s LEFT JOIN pqref r
       |              ON s.mi = r.mi AND s.code = r.code),
       |pqrsc AS (SELECT mi, code, list_transform(cent,
       |          x -> CAST(round(x * 1000000) AS BIGINT)) AS cs
       |        FROM pqrefined),
       |pqpb AS (SELECT v.vec_id, r.mi, r.code,
       |         ${(1 to sub).map(j =>
                  s"((v.s[r.mi*$sub+$j]) - (r.cs[$j])) * " +
                    s"((v.s[r.mi*$sub+$j]) - (r.cs[$j]))").mkString(" + ")} AS d
       |       FROM pqsv v CROSS JOIN pqrsc r),
       |pqbcode AS (SELECT vec_id, mi, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, mi
       |      ORDER BY d, code) AS rn FROM pqpb) WHERE rn = 1)"""
      .stripMargin
  }

  private def pqIp(mi: String, qvec: String, cvec: String): String =
    (1 to 8).map { j =>
      s"($qvec[$mi*8+$j]) * ($cvec[$j])"
    }.mkString(" + ")

  private val pqOracleSql: String = {
    import SignLshSql._
    s"""WITH ids AS (SELECT vec_id, embedding, CAST(vec_id AS HUGEINT) AS l FROM embeddings),
       |${hashLongCtes("hl", "l", "CAST(42 AS HUGEINT)", "ids")},
       |hord AS (SELECT vec_id, embedding,
       |    CASE WHEN h >= 9223372036854775808 THEN h - $W ELSE h END AS sh FROM hl6),
       |$pqCtes,
       |scored AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |          SUM(${pqIp("b.mi", "q.s", "r.cs")}) AS score_scaled
       |        FROM pqsv q
       |        CROSS JOIN pqbcode b
       |        JOIN pqrsc r ON b.mi = r.mi AND b.code = r.code
       |        WHERE q.vec_id < 5 AND q.vec_id != b.vec_id
       |        GROUP BY 1, 2)
       |SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  CAST(score_scaled AS BIGINT) AS score_scaled FROM (
       |  SELECT query_id, neighbor_id, score_scaled,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_scaled DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of the persisted-PQ LIFECYCLE gate (round 12): the
    * shared PQ CTEs train + encode the corpus exactly as before
    * (`pqrsc` IS the persisted codebook table — parquet round-trips the
    * floats bit-exactly, so the stored books equal the trained ones);
    * the appended BATCH (planted reversed variants) encodes under those
    * same frozen books (`batcode`, the [[Similarity.pqEncodeWith]]
    * replay); and the probe ADC-scores queries against the UNION of
    * corpus and batch codes — the state a probe sees after
    * train → save → load → encode-batch → append → reload. */
  private val pqUpdateOracleSql: String = {
    import SignLshSql._
    val sub = 8
    def l2(mi: String, svec: String, cvec: String): String =
      (1 to sub).map { j =>
        s"(($svec[$mi*$sub+$j]) - ($cvec[$j])) * " +
          s"(($svec[$mi*$sub+$j]) - ($cvec[$j]))"
      }.mkString(" + ")
    s"""WITH ids AS (SELECT vec_id, embedding, CAST(vec_id AS HUGEINT) AS l FROM embeddings),
       |${hashLongCtes("hl", "l", "CAST(42 AS HUGEINT)", "ids")},
       |hord AS (SELECT vec_id, embedding,
       |    CASE WHEN h >= 9223372036854775808 THEN h - $W ELSE h END AS sh FROM hl6),
       |$pqCtes,
       |batsv AS (SELECT vec_id + 10000 AS vec_id,
       |          list_transform(list_reverse(embedding),
       |            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS s
       |        FROM embeddings WHERE vec_id < 200),
       |batpb AS (SELECT v.vec_id, r.mi, r.code,
       |          ${l2("r.mi", "v.s", "r.cs")} AS d
       |        FROM batsv v CROSS JOIN pqrsc r),
       |batcode AS (SELECT vec_id, mi, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, mi
       |      ORDER BY d, code) AS rn FROM batpb) WHERE rn = 1),
       |allcodes AS (SELECT vec_id, mi, code FROM pqbcode
       |             UNION ALL SELECT vec_id, mi, code FROM batcode),
       |scored AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |          SUM(${pqIp("b.mi", "q.s", "r.cs")}) AS score_scaled
       |        FROM pqsv q
       |        CROSS JOIN allcodes b
       |        JOIN pqrsc r ON b.mi = r.mi AND b.code = r.code
       |        WHERE q.vec_id < 5 AND q.vec_id != b.vec_id
       |        GROUP BY 1, 2)
       |SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  CAST(score_scaled AS BIGINT) AS score_scaled FROM (
       |  SELECT query_id, neighbor_id, score_scaled,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_scaled DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of [[Similarity.ivfPqTopK]]: the IVF assignment CTEs
    * provide probe cells (`pb` rn ≤ nProbe) and corpus cells (`bcell`);
    * the shared PQ CTEs ride the same `hord` seed chain; candidates =
    * probed-cell members, scored by the integer ADC sum. */
  private val ivfPqOracleSql: String = {
    s"""WITH ${ivfAssignCtes(64)},
       |$pqCtes,
       |qc AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cell DESC) AS rn FROM pb)
       |  WHERE vec_id < 5 AND rn <= 4),
       |cand AS (SELECT DISTINCT qc.query_id, b.vec_id AS neighbor_id
       |         FROM qc JOIN bcell b ON qc.cell = b.cell
       |         WHERE qc.query_id != b.vec_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |          SUM(${pqIp("b.mi", "q.s", "r.cs")}) AS score_scaled
       |        FROM cand
       |        JOIN pqsv q ON cand.query_id = q.vec_id
       |        JOIN pqbcode b ON cand.neighbor_id = b.vec_id
       |        JOIN pqrsc r ON b.mi = r.mi AND b.code = r.code
       |        GROUP BY 1, 2)
       |SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  CAST(score_scaled AS BIGINT) AS score_scaled FROM (
       |  SELECT query_id, neighbor_id, score_scaled,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_scaled DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of the persisted-IVF-PQ LIFECYCLE gate (round 12):
    * the IVF CTEs train the coarse quantizer (`refined` IS the stored
    * centroid table) and the PQ CTEs the codebooks (`pqrsc` the stored
    * books) exactly as the standalone oracles do; the appended BATCH
    * assigns cells under the frozen centroids (`batcell`, the
    * [[Similarity.appendToIvfPqIndex]] replay, cosine tie-broken
    * cell-DESC like the NearestCells kernel) and encodes under the
    * frozen books (`batcode`); the probe prunes by cells and ADC-scores
    * over the UNION of corpus and batch rows. */
  private val ivfPqUpdateOracleSql: String = {
    val sub = 8
    def l2(mi: String, svec: String, cvec: String): String =
      (1 to sub).map { j =>
        s"(($svec[$mi*$sub+$j]) - ($cvec[$j])) * " +
          s"(($svec[$mi*$sub+$j]) - ($cvec[$j]))"
      }.mkString(" + ")
    s"""WITH ${ivfAssignCtes(64)},
       |$pqCtes,
       |bat AS (SELECT vec_id + 10000 AS bid,
       |        CASE WHEN vec_id % 7 = 0 THEN embedding
       |             ELSE list_reverse(embedding) END AS bv
       |        FROM embeddings WHERE vec_id < 200),
       |batpb AS (SELECT bat.bid, s.cell,
       |          ${SignLshSql.cosineVsCent("bat.bv", "s.cent", 64)} AS score
       |        FROM bat CROSS JOIN refined s),
       |batcell AS (SELECT bid AS vec_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bid
       |      ORDER BY score DESC, cell DESC) AS rn FROM batpb)
       |  WHERE rn = 1),
       |batsv AS (SELECT bid AS vec_id, list_transform(bv,
       |          x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS s
       |        FROM bat),
       |batpq AS (SELECT v.vec_id, r.mi, r.code,
       |          ${l2("r.mi", "v.s", "r.cs")} AS d
       |        FROM batsv v CROSS JOIN pqrsc r),
       |batcode AS (SELECT vec_id, mi, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, mi
       |      ORDER BY d, code) AS rn FROM batpq) WHERE rn = 1),
       |allcells AS (SELECT vec_id, cell FROM bcell
       |             UNION ALL SELECT vec_id, cell FROM batcell),
       |allcodes AS (SELECT vec_id, mi, code FROM pqbcode
       |             UNION ALL SELECT vec_id, mi, code FROM batcode),
       |qc AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cell DESC) AS rn FROM pb)
       |  WHERE vec_id < 5 AND rn <= 4),
       |cand AS (SELECT DISTINCT qc.query_id, c.vec_id AS neighbor_id
       |         FROM qc JOIN allcells c ON qc.cell = c.cell
       |         WHERE qc.query_id != c.vec_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |          SUM(${pqIp("b.mi", "q.s", "r.cs")}) AS score_scaled
       |        FROM cand
       |        JOIN pqsv q ON cand.query_id = q.vec_id
       |        JOIN allcodes b ON cand.neighbor_id = b.vec_id
       |        JOIN pqrsc r ON b.mi = r.mi AND b.code = r.code
       |        GROUP BY 1, 2)
       |SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  CAST(score_scaled AS BIGINT) AS score_scaled FROM (
       |  SELECT query_id, neighbor_id, score_scaled,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_scaled DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of [[Similarity.ivfPqTopKRefined]]: the IVF-PQ ADC
    * chain ranks a 30-id pool per query, the pool joins the float store
    * back, and exact cosine (the bit-exact [[SignLshSql.cosine]] fold
    * mirror) re-ranks the final 10 — quantization error affects which
    * ids are IN the pool, never the output ordering or scores. */
  private val ivfPqRerankOracleSql: String = {
    import SignLshSql._
    s"""WITH ${ivfAssignCtes(64)},
       |$pqCtes,
       |qc AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cell DESC) AS rn FROM pb)
       |  WHERE vec_id < 5 AND rn <= 4),
       |cand AS (SELECT DISTINCT qc.query_id, b.vec_id AS neighbor_id
       |         FROM qc JOIN bcell b ON qc.cell = b.cell
       |         WHERE qc.query_id != b.vec_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |          SUM(${pqIp("b.mi", "q.s", "r.cs")}) AS score_scaled
       |        FROM cand
       |        JOIN pqsv q ON cand.query_id = q.vec_id
       |        JOIN pqbcode b ON cand.neighbor_id = b.vec_id
       |        JOIN pqrsc r ON b.mi = r.mi AND b.code = r.code
       |        GROUP BY 1, 2),
       |pool AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score_scaled DESC, neighbor_id) AS rn
       |    FROM scored) WHERE rn <= 30),
       |refined_rr AS (SELECT p.query_id, p.neighbor_id,
       |    ${cosine("q.embedding", "e.embedding", 64)} AS score
       |  FROM pool p JOIN embeddings q ON p.query_id = q.vec_id
       |              JOIN embeddings e ON p.neighbor_id = e.vec_id)
       |SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  score FROM (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM refined_rr)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of [[Similarity.hardNegativesFromIndex]] (round 13):
    * the IVF-PQ ADC chain ranks the 30-id label-agnostic POOL per
    * anchor exactly as [[ivfPqRerankOracleSql]] does; the refine read
    * fetches floats AND labels together; same-label rows drop (plain
    * `!=` — null-propagating like the Spark side's `=!=`) BEFORE the
    * exact-cosine top-k. */
  private val hardNegAnnOracleSql: String = {
    import SignLshSql._
    s"""WITH ${ivfAssignCtes(64)},
       |$pqCtes,
       |qc AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cell DESC) AS rn FROM pb)
       |  WHERE vec_id < 5 AND rn <= 4),
       |cand AS (SELECT DISTINCT qc.query_id, b.vec_id AS neighbor_id
       |         FROM qc JOIN bcell b ON qc.cell = b.cell
       |         WHERE qc.query_id != b.vec_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |          SUM(${pqIp("b.mi", "q.s", "r.cs")}) AS score_scaled
       |        FROM cand
       |        JOIN pqsv q ON cand.query_id = q.vec_id
       |        JOIN pqbcode b ON cand.neighbor_id = b.vec_id
       |        JOIN pqrsc r ON b.mi = r.mi AND b.code = r.code
       |        GROUP BY 1, 2),
       |pool AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score_scaled DESC, neighbor_id) AS rn
       |    FROM scored) WHERE rn <= 30),
       |hn AS (SELECT p.query_id, p.neighbor_id,
       |    ${cosine("q.embedding", "e.embedding", 64)} AS score
       |  FROM pool p JOIN embeddings q ON p.query_id = q.vec_id
       |              JOIN embeddings e ON p.neighbor_id = e.vec_id
       |  WHERE q.label != e.label)
       |SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  score FROM (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM hn)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of [[Similarity.ivfAdcTopK]] (residual IVFADC): the
    * IVF chain trains the quantizer; the PQ chain runs over the INTEGER
    * residuals r = sv − scaled(cent(cell)) (the generic [[pqCtesOver]]
    * fed the residual `pqin`, with fv the exact float carrier r/1e6 —
    * |r| < 2²⁴ makes both the carrier and its re-scaling exact); the
    * score is the exact integer identity dot_s(q,v) = dot_s(q,cent) +
    * dot_s(q,r), with the first term computed per (query, cell) and the
    * second approximated by the residual ADC sum. */
  private val ivfAdcOracleSql: String = {
    s"""WITH ${ivfAssignCtes(64)},
       |scents AS (SELECT cell, list_transform(cent,
       |           x -> CAST(round(x * 1000000) AS BIGINT)) AS cs
       |         FROM refined),
       |${pqCtesOver(
        """pqin AS (SELECT b.vec_id,
          |       list_transform(range(1, 65), j ->
          |         CAST(CAST((CAST(round(CAST(e.embedding[j] AS DOUBLE) * 1000000) AS BIGINT)
          |           - sc.cs[j]) AS DOUBLE) / 1000000 AS FLOAT)) AS fv,
          |       list_transform(range(1, 65), j ->
          |         CAST(round(CAST(e.embedding[j] AS DOUBLE) * 1000000) AS BIGINT)
          |           - sc.cs[j]) AS s
          |     FROM bcell b JOIN embeddings e USING (vec_id)
          |                  JOIN scents sc ON b.cell = sc.cell)""".stripMargin)},
       |qsv AS (SELECT vec_id, list_transform(embedding,
       |        x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS s
       |      FROM embeddings WHERE vec_id < 5),
       |qips AS (SELECT q.vec_id AS query_id, sc.cell,
       |         CAST(list_sum(list_transform(range(1, 65),
       |           j -> q.s[j] * sc.cs[j])) AS BIGINT) AS ip
       |       FROM qsv q CROSS JOIN scents sc),
       |qc AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cell DESC) AS rn FROM pb)
       |  WHERE vec_id < 5 AND rn <= 4),
       |cand AS (SELECT DISTINCT qc.query_id, b.vec_id AS neighbor_id,
       |           b.cell
       |         FROM qc JOIN bcell b ON qc.cell = b.cell
       |         WHERE qc.query_id != b.vec_id),
       |adc AS (SELECT cand.query_id, cand.neighbor_id, cand.cell,
       |          SUM(${pqIp("b.mi", "q.s", "r.cs")}) AS a
       |        FROM cand
       |        JOIN qsv q ON cand.query_id = q.vec_id
       |        JOIN pqbcode b ON cand.neighbor_id = b.vec_id
       |        JOIN pqrsc r ON b.mi = r.mi AND b.code = r.code
       |        GROUP BY 1, 2, 3),
       |scored AS (SELECT adc.query_id, adc.neighbor_id,
       |          adc.a + qips.ip AS score_scaled
       |        FROM adc JOIN qips ON adc.query_id = qips.query_id
       |                          AND adc.cell = qips.cell)
       |SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  CAST(score_scaled AS BIGINT) AS score_scaled FROM (
       |  SELECT query_id, neighbor_id, score_scaled,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_scaled DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of the RESIDUAL-index lifecycle gate: the
    * [[ivfAdcOracleSql]] chain plus the appended batch — assigned to
    * cells under the frozen centroids, residual-encoded under the
    * frozen books — with the probe scoring the UNION of corpus and
    * batch rows by the exact cell-IP + residual-ADC decomposition. */
  private val ivfAdcUpdateOracleSql: String = {
    val sub = 8
    def l2(mi: String, svec: String, cvec: String): String =
      (1 to sub).map { j =>
        s"(($svec[$mi*$sub+$j]) - ($cvec[$j])) * " +
          s"(($svec[$mi*$sub+$j]) - ($cvec[$j]))"
      }.mkString(" + ")
    s"""WITH ${ivfAssignCtes(64)},
       |scents AS (SELECT cell, list_transform(cent,
       |           x -> CAST(round(x * 1000000) AS BIGINT)) AS cs
       |         FROM refined),
       |${pqCtesOver(
        """pqin AS (SELECT b.vec_id,
          |       list_transform(range(1, 65), j ->
          |         CAST(CAST((CAST(round(CAST(e.embedding[j] AS DOUBLE) * 1000000) AS BIGINT)
          |           - sc.cs[j]) AS DOUBLE) / 1000000 AS FLOAT)) AS fv,
          |       list_transform(range(1, 65), j ->
          |         CAST(round(CAST(e.embedding[j] AS DOUBLE) * 1000000) AS BIGINT)
          |           - sc.cs[j]) AS s
          |     FROM bcell b JOIN embeddings e USING (vec_id)
          |                  JOIN scents sc ON b.cell = sc.cell)""".stripMargin)},
       |bat AS (SELECT vec_id + 10000 AS bid,
       |        CASE WHEN vec_id % 7 = 0 THEN embedding
       |             ELSE list_reverse(embedding) END AS bv
       |        FROM embeddings WHERE vec_id < 200),
       |batpb AS (SELECT bat.bid, s.cell,
       |          ${SignLshSql.cosineVsCent("bat.bv", "s.cent", 64)} AS score
       |        FROM bat CROSS JOIN refined s),
       |batcell AS (SELECT bid, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bid
       |      ORDER BY score DESC, cell DESC) AS rn FROM batpb)
       |  WHERE rn = 1),
       |batrsv AS (SELECT b.bid AS vec_id, bc.cell,
       |          list_transform(range(1, 65), j ->
       |            CAST(round(CAST(b.bv[j] AS DOUBLE) * 1000000) AS BIGINT)
       |              - sc.cs[j]) AS s
       |        FROM bat b JOIN batcell bc ON b.bid = bc.bid
       |                   JOIN scents sc ON bc.cell = sc.cell),
       |batpq AS (SELECT v.vec_id, r.mi, r.code,
       |          ${l2("r.mi", "v.s", "r.cs")} AS d
       |        FROM batrsv v CROSS JOIN pqrsc r),
       |batcode AS (SELECT vec_id, mi, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, mi
       |      ORDER BY d, code) AS rn FROM batpq) WHERE rn = 1),
       |allcells AS (SELECT vec_id, cell FROM bcell
       |             UNION ALL SELECT vec_id, cell FROM batrsv),
       |allcodes AS (SELECT vec_id, mi, code FROM pqbcode
       |             UNION ALL SELECT vec_id, mi, code FROM batcode),
       |qsv AS (SELECT vec_id, list_transform(embedding,
       |        x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS s
       |      FROM embeddings WHERE vec_id < 5),
       |qips AS (SELECT q.vec_id AS query_id, sc.cell,
       |         CAST(list_sum(list_transform(range(1, 65),
       |           j -> q.s[j] * sc.cs[j])) AS BIGINT) AS ip
       |       FROM qsv q CROSS JOIN scents sc),
       |qc AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cell DESC) AS rn FROM pb)
       |  WHERE vec_id < 5 AND rn <= 4),
       |cand AS (SELECT DISTINCT qc.query_id, c.vec_id AS neighbor_id,
       |           c.cell
       |         FROM qc JOIN allcells c ON qc.cell = c.cell
       |         WHERE qc.query_id != c.vec_id),
       |adc AS (SELECT cand.query_id, cand.neighbor_id, cand.cell,
       |          SUM(${pqIp("b.mi", "q.s", "r.cs")}) AS a
       |        FROM cand
       |        JOIN qsv q ON cand.query_id = q.vec_id
       |        JOIN allcodes b ON cand.neighbor_id = b.vec_id
       |        JOIN pqrsc r ON b.mi = r.mi AND b.code = r.code
       |        GROUP BY 1, 2, 3),
       |scored AS (SELECT adc.query_id, adc.neighbor_id,
       |          adc.a + qips.ip AS score_scaled
       |        FROM adc JOIN qips ON adc.query_id = qips.query_id
       |                          AND adc.cell = qips.cell)
       |SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |  CAST(score_scaled AS BIGINT) AS score_scaled FROM (
       |  SELECT query_id, neighbor_id, score_scaled,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_scaled DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  private val ivfOracleSql: String = {
    import SignLshSql._
    val dim = 64
    s"""WITH ${ivfAssignCtes(dim)},
       |qc AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn FROM pb)
       |  WHERE vec_id < 5 AND rn <= 4),
       |cand AS (SELECT qc.query_id, b.vec_id AS neighbor_id
       |         FROM qc JOIN bcell b ON qc.cell = b.cell
       |         WHERE qc.query_id != b.vec_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |    ${cosine("q.embedding", "e.embedding", dim)} AS score
       |  FROM cand JOIN embeddings q ON cand.query_id = q.vec_id
       |            JOIN embeddings e ON cand.neighbor_id = e.vec_id)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB mirror of the banded auto-sized [[Similarity.lshTopK]] path:
    * band width recomputed in SQL from the corpus count (the same
    * floor(log2 n) − 2, floored at 4, as [[Similarity.autoPlanes]]), sign
    * bits from the hashInt plane components, candidates by per-band key
    * equality, exact cosine ranking. Bit-exact vs the engine at all three
    * SFs (n=500 → width 6, n=2000 → width 8).
    */
  private val annLshOracleSql: String = {
    import SignLshSql._
    s"""WITH cfg AS (SELECT greatest(4, CAST(floor(log2(count(*))) AS INT) - 2) AS w
       |             FROM embeddings),
       |${planesCtes("4*(SELECT w FROM cfg)", 64)},
       |${bitsCtes(64)},
       |bands AS (SELECT vec_id, b,
       |    array_to_string(bits[(SELECT w FROM cfg)*b+1:(SELECT w FROM cfg)*b+(SELECT w FROM cfg)], '') AS key
       |  FROM bits CROSS JOIN (SELECT unnest(range(0,4)) AS b) bb),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |qb AS (SELECT b.vec_id AS query_id, b.b, b.key FROM bands b WHERE b.vec_id < 5),
       |cand AS (SELECT DISTINCT qb.query_id, c.vec_id AS neighbor_id
       |         FROM qb JOIN bands c ON qb.b = c.b AND qb.key = c.key
       |         WHERE qb.query_id != c.vec_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |    ${cosine("q.qv", "e.embedding", 64)} AS score
       |  FROM cand JOIN q ON cand.query_id = q.query_id
       |            JOIN embeddings e ON cand.neighbor_id = e.vec_id)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB mirror of [[Similarity.cosineDupPairs]] (θ=0.35, 32 planes ×
    * 4-row bands): same sign-bit machinery, pairs by per-band key
    * equality, exact cosine threshold. Bit-exact at all three SFs.
    */
  private val cosineDupsOracleSql: String = {
    import SignLshSql._
    s"""WITH ${planesCtes("32", 64)},
       |${bitsCtes(64)},
       |bands AS (SELECT vec_id, b, array_to_string(bits[4*b+1:4*b+4], '') AS key
       |          FROM bits CROSS JOIN (SELECT unnest(range(0,8)) AS b) bb),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key
       |         WHERE a.vec_id < b.vec_id)
       |SELECT id_a, id_b, score FROM (
       |  SELECT id_a, id_b, ${cosine("ea.embedding", "eb.embedding", 64)} AS score
       |  FROM cand JOIN embeddings ea ON id_a = ea.vec_id
       |            JOIN embeddings eb ON id_b = eb.vec_id)
       |WHERE score >= 0.35 ORDER BY id_a, id_b""".stripMargin
  }

  /** 12 tokens of planted boilerplate for pl_substring_dedup — made-up
    * words disjoint from the documents vocabulary, shared between the
    * Spark plant and its SQL oracle so both build the identical corpus.
    */
  private val substrBoiler = Seq("lorem", "boiler", "token", "alpha",
    "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota")

  /** DuckDB mirror of [[graft.functions.Bpe.train]], generated by
    * unrolling the `n` iterations: each one is a pair-count CTE + a
    * 1-row best CTE + a leftmost-greedy merge replay. The replay keeps
    * each DISTINCT word's tokenization as a symbol LIST (one row per
    * word, never per position) and applies the merge as a single
    * `list_reduce` fold — equivalent to the positional scan because a
    * just-merged token `a||b` can never equal `a` (b is non-empty), so
    * "last accumulator element = a AND next symbol = b" fires exactly at
    * the leftmost non-overlapping match positions. The r9 positional
    * window replay (5 chained window CTEs per iteration) was semantically
    * identical but ran 656 s at sf0.01 in DuckDB (CTE re-inlining blows
    * up through the 6-deep chain); this form runs in ~1 s and was
    * verified row-identical against the old oracle before the swap.
    */
  private def bpeOracleSql(n: Int): String =
    bpeCtes(n, withFinalSyms = false) + (1 to n).map { k =>
      s"""SELECT CAST($k AS INTEGER) AS iteration, a, b, a || b AS merged, c
         |FROM best$k""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY iteration")

  /** The encode half: the same unrolled training replay, but the compared
    * output is the FINAL symbol table collapsed to one row per word —
    * the trained tokenization of the whole vocabulary. */
  private def bpeEncodeOracleSql(n: Int): String =
    bpeCtes(n, withFinalSyms = true) +
      s"""SELECT wid AS word, array_to_string(syms, ' ') AS encoded,
         |  CAST(len(syms) AS BIGINT) AS n_subwords
         |FROM syms$n ORDER BY word""".stripMargin

  private def bpeCtes(n: Int, withFinalSyms: Boolean): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH words AS (
      |  SELECT w AS wid, CAST(count(*) AS BIGINT) AS wt FROM (
      |    SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
      |                              x -> len(x) > 0)) AS w
      |    FROM documents) GROUP BY w),
      |syms0 AS (
      |  SELECT wid, wt, list_append(string_split(wid, ''), '</w>') AS syms
      |  FROM words),
      |""".stripMargin
    for (k <- 1 to n) {
      val p = s"syms${k - 1}"
      sb ++= s"""pairs$k AS (
        |  SELECT z[1] AS a, z[2] AS b, CAST(sum(wt) AS BIGINT) AS c FROM (
        |    SELECT wt, unnest(list_zip(syms, syms[2:])) AS z FROM $p)
        |  WHERE z[2] IS NOT NULL GROUP BY 1, 2),
        |best$k AS (SELECT a, b, c FROM pairs$k ORDER BY c DESC, a, b LIMIT 1),
        |""".stripMargin
      if (k < n || withFinalSyms) sb ++= s"""syms$k AS (
        |  SELECT wid, wt,
        |    list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
        |      CASE WHEN acc[len(acc)] = b$k.a AND x[1] = b$k.b
        |           THEN list_append(acc[1:len(acc)-1], b$k.a || b$k.b)
        |           ELSE list_concat(acc, x) END) AS syms
        |  FROM $p, best$k b$k),
        |""".stripMargin
    }
    sb.result().stripSuffix(",\n") + "\n"
  }

  val all: Seq[Q] = Seq(

    // ───── text analysis ─────

    Q("pl_token_count",
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS INTEGER) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, d) => Tables.load(s, d, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),

    // BPE-ish subword pre-tokenization count (GPT-2-style pattern classes:
    // letter runs, digit runs, punct runs) — both engines run the same RE2
    Q("pl_token_count_bpe",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]+')) AS INTEGER) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, d) => Tables.load(s, d, "documents")
        .select(
          col("doc_id"),
          size(TextAnalysis.bpeishTokens(col("text"))).as("n_bpeish"))
        .orderBy("doc_id")),

    Q("pl_quality",
      """SELECT doc_id,
        |       CAST(len(text) AS BIGINT) AS n_chars,
        |       CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
        |         / greatest(len(toks), 1) AS mean_token_len,
        |       CAST(len(list_filter(toks, x -> lower(x) IN
        |         ('the','a','an','of','to','in','and','or','is','are','was',
        |          'for','on','with','as','at','by','it','this','that'))) AS DOUBLE)
        |         / greatest(len(toks), 1) AS stopword_ratio
        |FROM (SELECT doc_id, text,
        |        list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |      FROM documents) ORDER BY doc_id""".stripMargin)(
      (s, d) => Tables.load(s, d, "documents")
        .withColumn("q", TextAnalysis.qualityFeatures(col("text")))
        .select(
          col("doc_id"),
          col("q.n_chars").as("n_chars"),
          col("q.n_tokens").as("n_tokens"),
          col("q.mean_token_len").as("mean_token_len"),
          col("q.stopword_ratio").as("stopword_ratio"))
        .orderBy("doc_id")),

    // language-ID heuristic: marker-word argmax is pure logic, so the
    // oracle recomputes it in SQL (generated from the same langProfiles —
    // one source of truth for both engines); accuracy on hand-labeled
    // samples asserted in PipelineSpec.
    Q("pl_lang_id", langIdOracleSql)(
      (s, d) => Tables.load(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))
        .orderBy("doc_id")),

    // polynomial rolling-hash fingerprint — the char-polynomial runs as
    // plain SQL in DuckDB, so this gate hash-verifies cross-engine
    Q("pl_fingerprint",
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT), list_transform(toks, t ->
        |      list_reduce(
        |        list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
        |        (a, c) -> (a*131 + c) % 1000000000000000))),
        |    (acc, th) -> (acc*31 + th) % 1000000000000000) AS fp
        |FROM (SELECT doc_id,
        |        list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => Tables.load(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // ───── dedup ─────

    Q("pl_dedup_exact",
      """SELECT md5(text) AS text_hash, count(*) AS n_copies,
        |       min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin)(
      (s, d) => Dedup.exactDupGroups(Tables.load(s, d, "documents"), "doc_id", "text")
        .orderBy("text_hash")),

    // incremental dedup: a new batch (doc_id >= 250) deduped against the
    // prior corpus's hash index (doc_id < 250) and within itself; the
    // oracle compares texts directly (md5 equality ⇔ text equality)
    Q("pl_incr_dedup",
      """WITH corpus AS (SELECT DISTINCT text FROM documents
        |                WHERE doc_id < 250),
        |b AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250),
        |f AS (SELECT doc_id, text, row_number() OVER (
        |        PARTITION BY text ORDER BY doc_id) AS rn FROM b)
        |SELECT doc_id FROM f
        |WHERE rn = 1 AND text NOT IN (SELECT text FROM corpus)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val index = Dedup.exactDupGroups(
          docs.filter(col("doc_id") < 250), "doc_id", "text")
          .select("text_hash")
        Dedup.incrementalDedup(docs.filter(col("doc_id") >= 250), index,
          "doc_id", "text").select("doc_id").orderBy("doc_id")
      }),

    // Bloom-prefiltered incremental dedup: OUTPUT-IDENTICAL to
    // pl_incr_dedup (same oracle) — the filter only routes rows between
    // the skip-the-join branch and the exact re-check, so correctness
    // never depends on the false-positive pattern; the plan gains the
    // bloom_filter_agg/might_contain prefilter (PlanSpec pins it)
    Q("pl_incr_bloom",
      """WITH corpus AS (SELECT DISTINCT text FROM documents
        |                WHERE doc_id < 250),
        |b AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250),
        |f AS (SELECT doc_id, text, row_number() OVER (
        |        PARTITION BY text ORDER BY doc_id) AS rn FROM b)
        |SELECT doc_id FROM f
        |WHERE rn = 1 AND text NOT IN (SELECT text FROM corpus)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val index = Dedup.exactDupGroups(
          docs.filter(col("doc_id") < 250), "doc_id", "text")
          .select("text_hash")
        Dedup.incrementalDedupBloom(docs.filter(col("doc_id") >= 250),
          index, "doc_id", "text", expectedItems = 1000L)
          .select("doc_id").orderBy("doc_id")
      }),

    // exact substring dedup (Lee et al. 2022 ExactSubstr, arXiv:2107.06499):
    // repeated ≥k-token substrings keep only their first occurrence.
    // Duplication is PLANTED deterministically so the fixture provably
    // exercises every path: docs ≡0 (mod 5) append a fixed 12-token
    // boilerplate, docs ≡3 (mod 7) prepend it (cross-doc duplication,
    // winner = smallest (doc_id, pos)), docs ≡4 (mod 11) append their own
    // first 15 tokens (intra-doc duplication). k=10 < 12 and < 15 so both
    // plants produce losing shingle chains that merge into single spans.
    // The oracle replays the same plant, the row_number winner rule, the
    // gaps-and-islands span merge (break when pos > prev_max + k), and
    // the uncovered-token rebuild.
    Q("pl_substring_dedup", {
      val bl = substrBoiler.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS t0
         |  FROM documents),
         |corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN list_concat(t0, $bl)
         |         WHEN doc_id % 7 = 3 THEN list_concat($bl, t0)
         |         WHEN doc_id % 11 = 4 AND len(t0) >= 15
         |           THEN list_concat(t0, t0[1:15])
         |         ELSE t0 END AS t
         |  FROM base),
         |sh AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+9], ' ') AS s
         |  FROM corpus, unnest(range(1, len(t) - 8)) AS u(i)
         |  WHERE len(t) >= 10),
         |ranked AS (
         |  SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
         |  FROM sh),
         |losers AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
         |brk AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos > coalesce(max(pos) OVER (PARTITION BY doc_id
         |           ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
         |           AND 1 PRECEDING), -1000000) + 10
         |         THEN 1 ELSE 0 END AS b
         |  FROM losers),
         |isl AS (SELECT doc_id, pos,
         |          sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
         |        FROM brk),
         |spans AS (SELECT doc_id, gid, min(pos) AS st, max(pos) + 10 AS en
         |          FROM isl GROUP BY doc_id, gid),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |               CAST(sum(en - st) AS BIGINT) AS n_removed
         |        FROM spans GROUP BY doc_id),
         |tokpos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
         |           FROM corpus, unnest(range(1, len(t) + 1)) AS u(i)),
         |kept AS (SELECT tp.doc_id, tp.p, tp.tok
         |         FROM tokpos tp LEFT JOIN spans sp
         |           ON tp.doc_id = sp.doc_id AND tp.p >= sp.st AND tp.p < sp.en
         |         WHERE sp.st IS NULL),
         |reb AS (SELECT doc_id,
         |          array_to_string(list(tok ORDER BY p), ' ') AS text_dedup
         |        FROM kept GROUP BY doc_id)
         |SELECT c.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |  coalesce(n_spans, 0) AS n_spans,
         |  coalesce(n_removed, 0) AS n_removed,
         |  coalesce(text_dedup, '') AS text_dedup
         |FROM corpus c LEFT JOIN agg USING (doc_id) LEFT JOIN reb USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin
    })(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val tokd = docs.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("__t0"))
        val b = array(substrBoiler.map(lit): _*)
        val t = when(col("doc_id") % 5 === 0, concat(col("__t0"), b))
          .when(col("doc_id") % 7 === 3, concat(b, col("__t0")))
          .when(col("doc_id") % 11 === 4 && size(col("__t0")) >= 15,
            concat(col("__t0"), slice(col("__t0"), 1, 15)))
          .otherwise(col("__t0"))
        Dedup.substringDedup(tokd.select(col("doc_id"), t.as("__t")),
          "doc_id", col("__t"), 10).orderBy("doc_id")
      }),

    // SPAN-level decontamination (round 10): remove every >= 8-token run
    // that appears verbatim in the benchmark (a 12-token snippet of every
    // 10th doc), keeping the rest of the document — the surgical OLMo
    // variant of pl_contamination's whole-doc flagging. The oracle
    // replays shingling, the benchmark k-gram set, hit positions, and
    // the window-based span merge exactly.
    Q("pl_decontam_spans",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bt AS (SELECT t[6:17] AS b FROM toks WHERE doc_id % 10 = 0),
        |bsh AS (SELECT DISTINCT array_to_string(b[i:i+7], ' ') AS s
        |        FROM bt, unnest(range(1, len(b) - 6)) AS u(i)
        |        WHERE len(b) >= 8),
        |csh AS (SELECT doc_id, i - 1 AS pos,
        |          array_to_string(t[i:i+7], ' ') AS s
        |        FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
        |        WHERE len(t) >= 8),
        |hits AS (SELECT doc_id, pos FROM csh
        |         WHERE s IN (SELECT s FROM bsh)),
        |brk AS (SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos) OVER (PARTITION BY doc_id
        |           ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND 1 PRECEDING), -1000000) + 8
        |         THEN 1 ELSE 0 END AS b
        |  FROM hits),
        |isl AS (SELECT doc_id, pos,
        |          sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
        |        FROM brk),
        |spans AS (SELECT doc_id, gid, min(pos) AS st, max(pos) + 8 AS en
        |          FROM isl GROUP BY doc_id, gid),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |               CAST(sum(en - st) AS BIGINT) AS n_removed
        |        FROM spans GROUP BY doc_id),
        |tokpos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
        |           FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
        |kept AS (SELECT tp.doc_id, tp.p, tp.tok
        |         FROM tokpos tp LEFT JOIN spans sp
        |           ON tp.doc_id = sp.doc_id AND tp.p >= sp.st AND tp.p < sp.en
        |         WHERE sp.st IS NULL),
        |reb AS (SELECT doc_id,
        |          array_to_string(list(tok ORDER BY p), ' ') AS text_clean
        |        FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  coalesce(n_spans, 0) AS n_spans,
        |  coalesce(n_removed, 0) AS n_removed,
        |  coalesce(text_clean, '') AS text_clean
        |FROM toks c LEFT JOIN agg USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin)(
      (s, d) => {
        val tokd = Tables.load(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
        val bench = tokd.filter(col("doc_id") % 10 === 0)
          .select(slice(col("__t"), 6, 12).as("__bt"))
        Dedup.decontaminateSpans(tokd, "doc_id", col("__t"),
          bench, col("__bt"), k = 8).orderBy("doc_id")
      }),

    // corpus-level exact line dedup (the C4 rule): documents chunked into
    // 2-token "lines" (the small vocab makes cross-document repeats
    // plentiful), first occurrence by (doc_id, idx) wins, docs reassemble
    // in line order. The oracle replays the identical chunking + the
    // row_number-over-(line ORDER BY doc_id, idx) winner rule.
    Q("pl_line_dedup",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, i AS idx,
        |    array_to_string(t[(i*2+1):(i*2+2)], ' ') AS line
        |  FROM toks,
        |    unnest(range(0, CAST(ceil(len(t) / 2.0) AS BIGINT))) AS u(i)),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY line
        |             ORDER BY doc_id, idx) AS rn
        |  FROM lines),
        |rebuilt AS (
        |  SELECT doc_id,
        |    array_to_string(list(line ORDER BY idx), chr(10)) AS text_clean,
        |    count(*) AS n_kept
        |  FROM ranked WHERE rn = 1 GROUP BY doc_id),
        |tot AS (SELECT doc_id,
        |          CAST(ceil(len(t) / 2.0) AS BIGINT) AS n_lines
        |        FROM toks)
        |SELECT tot.doc_id, coalesce(text_clean, '') AS text_clean,
        |       coalesce(n_kept, 0) AS n_kept, n_lines
        |FROM tot LEFT JOIN rebuilt USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        // materialize the token array FIRST: chunking references it once
        // per chunk, and an inlined tokenize would re-run O(chunks) times
        // per document (the shinglesColumnForm O(n²) trap — this exact
        // shape was measured at 9 s before the barrier, 0.4 s after)
        val tokd = docs.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("__toks"))
        val toks = col("__toks")
        val lines = transform(
          sequence(lit(0L), ceil(size(toks) / 2.0).cast("long") - 1L),
          i => concat_ws(" ", slice(toks, (i * 2 + 1).cast("int"), lit(2))))
        Dedup.lineDedup(tokd.select(col("doc_id"), lines.as("__lines")),
          "doc_id", col("__lines")).orderBy("doc_id")
      }),

    // incremental NEAR-dup dedup (round 10): the new batch (doc_id >= 250)
    // probed against the corpus's (doc_id < 250) MinHash band index,
    // Jaccard-verified on candidates only — the nightly crawl-vs-corpus
    // pass. The oracle replays the identical XXH64 signature/band chain
    // with batch-probes-corpus candidates, so the output (surviving batch
    // ids, incl. too-short-to-shingle docs) is hash-exact.
    Q("pl_incr_minhash", incrMinhashOracleSql)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        Dedup.incrementalMinhashDedup(
          docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250),
          "doc_id", "text", n = 3, k = 64, rowsPerBand = 4, threshold = 0.4)
          .orderBy("doc_id")
      }),

    // NEAR-DUP contamination (round 13): flag corpus docs whose MinHash
    // Jaccard vs ANY benchmark doc clears the threshold — the fuzzy
    // decontamination pass (verbatim checks miss paraphrased eval
    // leakage). Benchmark = the 250–299 slice (whose planted near-dups
    // live in the corpus < 250); both benchmark tables broadcast, the
    // Jaccard verify runs map-side through the band explode, and only
    // verified hits shuffle.
    Q("pl_contam_neardup", contamNearDupOracleSql)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        Dedup.contaminationNearDup(
          docs.filter(col("doc_id") < 250), "doc_id", "text",
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 300),
          "doc_id", "text",
          n = 3, k = 64, rowsPerBand = 4, threshold = 0.4)
          .orderBy("doc_id")
      }),

    // SNAPSHOT DIFF (round 11): the what-changed audit between two corpus
    // snapshots — old drops ids ≡ 5 (mod 13), new drops ids ≡ 0 (mod 10)
    // and rewrites ids ≡ 1 (mod 7), so all four statuses appear; the
    // oracle replays the classification with a full outer join on text
    // equality (hash equality on the same text is the same predicate)
    Q("pl_snapshot_diff",
      """WITH o AS (SELECT doc_id, text FROM documents
        |           WHERE doc_id % 13 <> 5),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 1 THEN text || ' v2' ELSE text END
        |          AS text
        |      FROM documents WHERE doc_id % 10 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val oldSnap = docs.filter(col("doc_id") % 13 =!= 5)
          .select("doc_id", "text")
        val newSnap = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 1, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
          .orderBy("doc_id")
      }),

    // the full index LIFECYCLE (round 11): build the day-0 corpus index,
    // SAVE it to parquet, LOAD + probe the day-1 batch, APPEND the day-1
    // survivors (their sets/band tuples only — the corpus is never
    // rescanned), reload and probe the day-2 batch. Day 2 must near-dup
    // against day-1 SURVIVORS (not the corpus alone, and not dropped
    // day-1 docs) — the nightly build-once/probe/append production loop.
    Q("pl_index_update", indexUpdateOracleSql)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-minhash-index").toString
        Dedup.saveMinhashIndex(minhashGateIndex(s, d), dir)
        val day1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 375)
        // day-1's survivors are checkpointed here; pl_index_versioned
        // runs the same chain without the checkpoint — the compaction
        // below commits a new snapshot version and deletes no file the
        // day-1 plan reads, so both orders give the same rows
        val surv1 = Dedup.incrementalMinhashDedup(
          day1, Dedup.loadMinhashIndex(s, dir), "doc_id", "text",
          threshold = 0.4).localCheckpoint()
        Dedup.appendToMinhashIndex(s, dir,
          day1.join(surv1, "doc_id"), "doc_id", "text")
        // compact between the append and the day-2 probe: the rewrite is
        // probe-neutral (same oracle), so the gate checks the FULL
        // maintenance cycle — save, load, probe, append, compact, probe
        Dedup.compactMinhashIndex(s, dir, numFiles = 4)
        val day2 = docs.filter(col("doc_id") >= 375 && col("doc_id") < 500)
        val surv2 = Dedup.incrementalMinhashDedup(
          day2, Dedup.loadMinhashIndex(s, dir), "doc_id", "text",
          threshold = 0.4)
        surv1.withColumn("day", lit(1))
          .unionByName(surv2.withColumn("day", lit(2)))
          .select("day", "doc_id").orderBy("day", "doc_id")
      }),

    // MinHash lifecycle with a LAZY day-1 reader (round 14): the
    // identical save→probe→append→compact→probe chain as
    // pl_index_update, under the SAME oracle. One deliberate difference
    // is the point: day-1's survivor DataFrame is NOT localCheckpoint-ed
    // before the compaction — the reader pins a snapshot manifest whose
    // files appends and compactions never delete, so the lazy plan still
    // evaluates correctly when the final union materializes it AFTER the
    // append and compact.
    Q("pl_index_versioned", indexUpdateOracleSql)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-minhash-vidx").toString
        Dedup.saveMinhashIndex(minhashGateIndex(s, d), dir)
        val day1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 375)
        val surv1 = Dedup.incrementalMinhashDedup(
          day1, Dedup.loadMinhashIndex(s, dir), "doc_id", "text",
          threshold = 0.4)
        Dedup.appendToMinhashIndex(s, dir,
          day1.join(surv1, "doc_id"), "doc_id", "text")
        Dedup.compactMinhashIndex(s, dir, numFiles = 4)
        val day2 = docs.filter(col("doc_id") >= 375 && col("doc_id") < 500)
        val surv2 = Dedup.incrementalMinhashDedup(
          day2, Dedup.loadMinhashIndex(s, dir), "doc_id", "text",
          threshold = 0.4)
        surv1.withColumn("day", lit(1))
          .unionByName(surv2.withColumn("day", lit(2)))
          .select("day", "doc_id").orderBy("day", "doc_id")
      }),

    // HAMMING lifecycle (round 15): the perceptual-hash family's
    // save → probe → append → compact → probe chain on a banded-Hamming
    // index, with simhash as the 64-bit fingerprint so the whole lifecycle
    // replays in SQL. Planted ` xv1` variants give both days real
    // drops; day 2's variants dup only the APPENDED day-1 survivors,
    // so a silently-lost append fails the gate. Like
    // pl_index_versioned, day-1's survivor plan is deliberately NOT
    // checkpointed before the compaction — the pinned snapshot manifest
    // is what makes that safe.
    Q("pl_hamming_versioned", hammingVersionedOracleSql)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        def sh(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
          Dedup.simhash(TextAnalysis.tokens(col("text"))).as("sh"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-hamming-vidx").toString
        Dedup.saveHammingIndex(hammingGateIndex(s, d), dir)
        val day1 = sh(docs.filter(col("doc_id") >= 250 && col("doc_id") < 375))
          .unionByName(sh(docs.filter(col("doc_id") < 50)
            .select((col("doc_id") + 10000).as("doc_id"),
              concat(col("text"), lit(" xv1")).as("text"))))
        val surv1 = Dedup.incrementalHammingDedup(
          day1, Dedup.loadHammingIndex(s, dir), "doc_id", "sh", maxDist = 7)
        Dedup.appendToHammingIndex(s, dir, surv1, "doc_id", "sh")
        Dedup.compactHammingIndex(s, dir, numFiles = 4)
        val day2 = sh(docs.filter(col("doc_id") >= 375))
          .unionByName(sh(docs
            .filter(col("doc_id") >= 250 && col("doc_id") < 300)
            .select((col("doc_id") + 20000).as("doc_id"),
              concat(col("text"), lit(" xv1")).as("text"))))
        val surv2 = Dedup.incrementalHammingDedup(
          day2, Dedup.loadHammingIndex(s, dir), "doc_id", "sh", maxDist = 7)
        surv1.withColumn("day", lit(1))
          .unionByName(surv2.withColumn("day", lit(2)))
          .select("day", "doc_id").orderBy("day", "doc_id")
      }),

    // TIME TRAVEL (round 14): after the index moves on (save v1,
    // append v2, compact v3), a probe PINNED to the v1 manifest
    // (loadMinhashIndexAt) must reproduce the day-1 result bit-for-bit
    // — the reproducibility story versioning sells: re-run yesterday's
    // dedup decision against yesterday's index state. Day 3 of the
    // output is that replay; its oracle branch is literally surv1 again.
    Q("pl_index_timetravel", indexUpdateOracle(
      "UNION ALL SELECT CAST(3 AS INT) AS day, doc_id FROM surv1"))(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-minhash-tt").toString
        Dedup.saveMinhashIndex(minhashGateIndex(s, d), dir)
        val v1 = SnapshotDir.versions(s, s"$dir/sets").last
        val day1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 375)
        val surv1 = Dedup.incrementalMinhashDedup(
          day1, Dedup.loadMinhashIndex(s, dir), "doc_id", "text",
          threshold = 0.4).localCheckpoint()
        Dedup.appendToMinhashIndex(s, dir,
          day1.join(surv1, "doc_id"), "doc_id", "text")
        Dedup.compactMinhashIndex(s, dir, numFiles = 4)
        val day2 = docs.filter(col("doc_id") >= 375 && col("doc_id") < 500)
        val surv2 = Dedup.incrementalMinhashDedup(
          day2, Dedup.loadMinhashIndex(s, dir), "doc_id", "text",
          threshold = 0.4)
        // the replay: same day-1 batch, index pinned AS OF v1 — before
        // the append's band tuples and the compaction's rewrite
        val replay1 = Dedup.incrementalMinhashDedup(
          day1, Dedup.loadMinhashIndexAt(s, dir, v1), "doc_id", "text",
          threshold = 0.4)
        surv1.withColumn("day", lit(1))
          .unionByName(surv2.withColumn("day", lit(2)))
          .unionByName(replay1.withColumn("day", lit(3)))
          .select("day", "doc_id").orderBy("day", "doc_id")
      }),

    // STREAMING ingest on a MinHash index (round 16): the
    // pl_bm25_stream_versioned motion for the DEDUP index family — two
    // micro-batches through StreamingDedup.probeBatch (the exposed
    // per-batch body of minhashDedupStream; the probeBatch testing
    // precedent, no async stream needed): each batch probes, its
    // survivors append (a manifest-committed version per append). Then
    // the crash case: batch 2's append marker is DELETED (a crash
    // between the append and the marker write) and the batch
    // re-delivered — the replay must return the SAME survivor set from
    // the committed manifest (never re-probe: the index already contains
    // these survivors and their self-matches would wrongly drop them)
    // and its re-append must be probe-neutral (set semantics). Day 3 of
    // the output is that replay; its oracle branch is literally surv2
    // again.
    Q("pl_minhash_stream_versioned", indexUpdateOracle(
      "UNION ALL SELECT CAST(3 AS INT) AS day, doc_id FROM surv2"))(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-minhash-svidx").toString
        val root = java.nio.file.Files
          .createTempDirectory("graft-minhash-svman").toString
        Dedup.saveMinhashIndex(minhashGateIndex(s, d), dir)
        val b1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 375)
        val surv1 = graft.streaming.StreamingDedup.probeBatch(
          b1, dir, root, 0L, "doc_id", "text", threshold = 0.4,
          appendSurvivors = true)
        val b2 = docs.filter(col("doc_id") >= 375 && col("doc_id") < 500)
        val surv2 = graft.streaming.StreamingDedup.probeBatch(
          b2, dir, root, 1L, "doc_id", "text", threshold = 0.4,
          appendSurvivors = true)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/appended-1"), false)
        val replay2 = graft.streaming.StreamingDedup.probeBatch(
          b2, dir, root, 1L, "doc_id", "text", threshold = 0.4,
          appendSurvivors = true)
        surv1.select("doc_id").withColumn("day", lit(1))
          .unionByName(surv2.select("doc_id").withColumn("day", lit(2)))
          .unionByName(replay2.select("doc_id").withColumn("day", lit(3)))
          .select("day", "doc_id").orderBy("day", "doc_id")
      }),

    // DELETE propagation (round 12): a retention pass removes corpus
    // docs ≡ 0 (mod 3) from the persisted index; the batch probe must
    // then behave as if they never existed — some batch docs' ONLY
    // near-dup is a deleted doc, so they now SURVIVE where
    // pl_incr_minhash drops them (the non-vacuity teeth). The delete
    // rewrites sets/ then buckets/ as new snapshot versions, then
    // expires the older ones.
    Q("pl_index_delete", indexDeleteOracleSql)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-minhash-del").toString
        Dedup.saveMinhashIndex(minhashGateIndex(s, d), dir)
        Dedup.deleteFromMinhashIndex(s, dir,
          docs.filter(col("doc_id") < 250 && col("doc_id") % 3 === 0)
            .select("doc_id"), numFiles = 4)
        Dedup.incrementalMinhashDedup(
          docs.filter(col("doc_id") >= 250),
          Dedup.loadMinhashIndex(s, dir), "doc_id", "text",
          threshold = 0.4)
          .orderBy("doc_id")
      }),

    // n-gram Jaccard near-dup (exact, restricted window so the O(n²) stays
    // bounded; the scalable path is pl_minhash_dups below)
    Q("pl_ngram_jaccard",
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> array_to_string(toks[i:i+2], ' '))) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents WHERE doc_id < 60))
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |           / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => {
        val sh = Tables.load(s, d, "documents")
          .filter(col("doc_id") < 60)
          .select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("s"))
        val a = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
        val b = sh.select(col("doc_id").as("id_b"), col("s").as("sb"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .withColumn("jaccard",
            size(array_intersect(col("sa"), col("sb"))).cast("double") /
              size(array_union(col("sa"), col("sb"))).cast("double"))
          .filter(col("jaccard") >= 0.2)
          .select("id_a", "id_b", "jaccard")
          .orderBy("id_a", "id_b")
      }),

    // MinHash+LSH near-dup pairs — full cross-engine oracle: the seeded
    // xxhash64 signature hash is reimplemented in DuckDB HUGEINT SQL
    // (see minhashOracleSql); recall/precision additionally asserted in
    // PipelineSpec with planted duplicates
    Q("pl_minhash_dups", minhashOracleSql)(
      (s, d) => Dedup.minhashDupPairs(
        Tables.load(s, d, "documents"), "doc_id", "text",
        n = 3, k = 64, rowsPerBand = 4, threshold = 0.4)
        .orderBy("id_a", "id_b")),

    Q("pl_simhash", simhashOracleSql)(
      (s, d) => Tables.load(s, d, "documents")
        .select(col("doc_id"),
          Dedup.simhash(TextAnalysis.tokens(col("text"))).as("simhash"))
        .orderBy("doc_id")),

    // SimHash NEAR-DUP pairs (round 9): the generic banded Hamming LSH
    // (Dedup.hammingDupPairs, shared with pl_image_dedup) over text
    // simhashes — near pairs are planted as one-token-appended variants
    // of each doc. maxDist 7 < nBands 8 ⇒ banding is EXACT, so the
    // oracle's all-pairs popcount over the DuckDB-replayed simhashes is
    // the identical answer (never materialized by the operator).
    Q("pl_simhash_dups", simhashDupsOracleSql)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .filter(col("doc_id") < 400).select("doc_id", "text")
        val variants = docs.select(
          (col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" graftmarker")).as("text"))
        val hashes = docs.unionByName(variants)
          .select(col("doc_id"),
            Dedup.simhash(TextAnalysis.tokens(col("text"))).as("sh"))
        Dedup.hammingDupPairs(hashes, "doc_id", "sh",
          maxDist = 7, nBands = 8)
          .orderBy("id_a", "id_b")
      }),

    // ───── similarity search ─────

    Q("pl_ann_brute",
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
        |  FROM q, c WHERE query_id != neighbor_id)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 5), emb,
          "vec_id", "vec_id", "embedding", 10)
          .select("query_id", "rank", "neighbor_id")
          .orderBy("query_id", "rank")
      }),

    // LSH-bucketed ANN, auto-sized banded path — full cross-engine
    // oracle: the hashInt plane components, sign bits, band keys, and
    // cosine ranking are all replayed bit-exactly in DuckDB SQL
    // (annLshOracleSql); recall additionally asserted in PipelineSpec
    Q("pl_ann_lsh", annLshOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        Similarity.lshTopK(
          emb.filter(col("vec_id") < 5), emb,
          "vec_id", "vec_id", "embedding", 10)
          .select("query_id", "rank", "neighbor_id")
          .orderBy("query_id", "rank")
      }),

    // product-quantized ANN (round 9, Jégou 2011): m=8 × ksub=16
    // codebooks (hash-seeded + one exact-integer Lloyd sweep), corpus
    // stored as 8 byte-codes (32× compression — the billion-vector
    // serving layout), queries scored by ADC integer table lookups.
    // Full cross-engine oracle: every step is integer or one IEEE
    // division, so ranks AND scores hash-match.
    Q("pl_ann_pq", pqOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        // train the corpus PQ index, then probe it (same arithmetic as
        // the corpus form: pqTopK(q, corpus) == pqEncode + ADC probe)
        Similarity.pqTopK(
          emb.filter(col("vec_id") < 5), pqGateIndex(s, d),
          "vec_id", "embedding", 10)
          .orderBy("query_id", "rank")
      }),

    // IVF-PQ composed ANN (round 9): the canonical billion-vector
    // serving layout — IVF cells prune the search, PQ codes replace the
    // corpus floats, integer ADC scores the probed candidates. Both
    // components are independently proven; the composition keeps the
    // full hash-exact oracle (shared seed chain + shared PQ CTEs).
    Q("pl_ann_ivfpq", ivfPqOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        // index-then-probe == the corpus form (ivfAssign + pqEncode +
        // the same ADC kernel at the same nProbe = 4 default)
        Similarity.ivfPqTopK(
          emb.filter(col("vec_id") < 5), ivfPqGateIndex(s, d),
          "vec_id", "embedding", 10, nProbe = 4)
          .orderBy("query_id", "rank")
      }),

    // the persisted-PQ LIFECYCLE (round 12, closing the r11 relearn-per-
    // call gap): train the codebooks on the corpus once, SAVE, LOAD
    // (books round-trip parquet bit-exactly), encode a planted batch
    // under the FROZEN loaded books, APPEND its code rows, reload, and
    // ADC-probe over corpus+batch codes. Every step integer or one IEEE
    // division, so ranks AND scores stay hash-exact through the full
    // save/load/append cycle.
    Q("pl_ann_pq_update", pqUpdateOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-pq-index").toString
        Similarity.savePqIndex(pqGateIndex(s, d), dir)
        val batch = emb.filter(col("vec_id") < 200).select(
          (col("vec_id") + 10000).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
        // encodes under the STORED books (loaded back from parquet) —
        // never retrains, cost ∝ batch
        Similarity.appendToPqIndex(s, dir, batch, "vec_id", "embedding")
        Similarity.pqTopK(emb.filter(col("vec_id") < 5),
          Similarity.loadPqIndex(s, dir), "vec_id", "embedding", 10)
          .orderBy("query_id", "rank")
      }),

    // PQ lifecycle with compaction (round 14): pl_ann_pq_update's exact
    // chain plus a compaction before the probe (probe-neutral, so the
    // oracle is shared) — a manifest-committed append and rewrite of the
    // codes/ table oracled end to end.
    Q("pl_ann_pq_versioned", pqUpdateOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-pq-vidx").toString
        Similarity.savePqIndex(pqGateIndex(s, d), dir)
        val batch = emb.filter(col("vec_id") < 200).select(
          (col("vec_id") + 10000).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
        Similarity.appendToPqIndex(s, dir, batch, "vec_id", "embedding")
        Similarity.compactPqIndex(s, dir, numFiles = 4)
        Similarity.pqTopK(emb.filter(col("vec_id") < 5),
          Similarity.loadPqIndex(s, dir), "vec_id", "embedding", 10)
          .orderBy("query_id", "rank")
      }),

    // the persisted-IVF-PQ LIFECYCLE (round 12): train both models on
    // the corpus, SAVE (centroids + books + one (id, cell, codes) row
    // per vector), append a planted batch — cells assigned under the
    // FROZEN centroids, codes encoded under the FROZEN books — reload,
    // and probe over corpus+batch. Hash-exact end to end.
    Q("pl_ann_ivfpq_update", ivfPqUpdateOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-ivfpq-index").toString
        Similarity.saveIvfPqIndex(ivfPqGateIndex(s, d), dir)
        val batch = emb.filter(col("vec_id") < 200).select(
          (col("vec_id") + 10000).as("vec_id"),
          when(pmod(col("vec_id"), lit(7)) === 0, col("embedding"))
            .otherwise(reverse(col("embedding"))).as("embedding"))
        Similarity.appendToIvfPqIndex(s, dir, batch, "vec_id", "embedding")
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5),
          Similarity.loadIvfPqIndex(s, dir),
          "vec_id", "embedding", 10, nProbe = 4)
          .orderBy("query_id", "rank")
      }),

    // IVF-PQ lifecycle with compaction (round 15): pl_ann_ivfpq_update's
    // exact chain plus a compaction before the probe (probe-neutral —
    // same oracle). With pl_hamming_versioned this completes the
    // compaction matrix: every index family whose maintenance verbs
    // route through the append/rewrite chokepoints has its append and
    // rewrite proven end-to-end under a DuckDB oracle (MinHash r14,
    // BM25 r13/r14, PQ r14, Hamming + IVF-PQ r15; IVF cells ride the
    // same ivfAssign codepath IVF-PQ pins here).
    Q("pl_ann_ivfpq_versioned", ivfPqUpdateOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-ivfpq-vidx").toString
        Similarity.saveIvfPqIndex(ivfPqGateIndex(s, d), dir)
        val batch = emb.filter(col("vec_id") < 200).select(
          (col("vec_id") + 10000).as("vec_id"),
          when(pmod(col("vec_id"), lit(7)) === 0, col("embedding"))
            .otherwise(reverse(col("embedding"))).as("embedding"))
        Similarity.appendToIvfPqIndex(s, dir, batch, "vec_id", "embedding")
        Similarity.compactIvfPqIndex(s, dir, numFiles = 4)
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5),
          Similarity.loadIvfPqIndex(s, dir),
          "vec_id", "embedding", 10, nProbe = 4)
          .orderBy("query_id", "rank")
      }),

    // ADC + exact REFINE (round 12): the serving pattern plain ADC
    // skips — rank a 30-id pool per query from the compressed codes,
    // read ONLY those floats back from the primary store, re-rank the
    // final 10 by exact cosine. Quantization error affects pool recall,
    // never the output ordering or scores (both exact, bit-replayable).
    Q("pl_ann_ivfpq_rerank", ivfPqRerankOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        Similarity.ivfPqTopKRefined(
          emb.filter(col("vec_id") < 5),
          ivfPqGateIndex(s, d),
          emb, "vec_id", "vec_id", "embedding",
          k = 10, nProbe = 4, rerank = 30)
          .orderBy("query_id", "rank")
      }),

    // RESIDUAL IVFADC (round 12 — the true Jégou §IV form; pl_ann_ivfpq
    // is the documented non-residual simplification): PQ codebooks learn
    // on the integer residuals v − cent(cell), and the score is the
    // EXACT integer identity dot(q,v) = dot(q,cent) + dot(q,r) with only
    // the residual term ADC-approximated — finer quantization from the
    // same codebook budget, still hash-exact end to end.
    Q("pl_ann_ivfadc", ivfAdcOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        // index-then-probe == the corpus form (ivfAdcTopK is literally
        // ivfAdcIndex + this ivfPqTopK call at nProbe = 4)
        Similarity.ivfPqTopK(
          emb.filter(col("vec_id") < 5), ivfAdcGateIndex(s, d),
          "vec_id", "embedding", 10, nProbe = 4)
          .orderBy("query_id", "rank")
      }),

    // the RESIDUAL-index lifecycle (round 12): train, save (the meta
    // flag makes the stored index self-describing), append a planted
    // batch — cells under the frozen centroids, RESIDUAL codes under
    // the frozen books — reload, probe with the exact cell-IP +
    // residual-ADC decomposition over corpus+batch. Hash-exact.
    Q("pl_ann_ivfadc_update", ivfAdcUpdateOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-radc-index").toString
        Similarity.saveIvfPqIndex(ivfAdcGateIndex(s, d), dir)
        val batch = emb.filter(col("vec_id") < 200).select(
          (col("vec_id") + 10000).as("vec_id"),
          when(pmod(col("vec_id"), lit(7)) === 0, col("embedding"))
            .otherwise(reverse(col("embedding"))).as("embedding"))
        Similarity.appendToIvfPqIndex(s, dir, batch, "vec_id", "embedding")
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5),
          Similarity.loadIvfPqIndex(s, dir),
          "vec_id", "embedding", 10, nProbe = 4)
          .orderBy("query_id", "rank")
      }),

    // RESIDUAL-IVFADC lifecycle with compaction (round 16):
    // pl_ann_ivfadc_update's exact chain plus a compaction before the
    // probe (probe-neutral — same oracle; the compaction commits a
    // rewrite version the pinned readers never see). Completes the
    // compaction matrix across ALL index families: MinHash, BM25, PQ,
    // Hamming, IVF-PQ, IVFADC.
    Q("pl_ann_ivfadc_versioned", ivfAdcUpdateOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-radc-vidx").toString
        Similarity.saveIvfPqIndex(ivfAdcGateIndex(s, d), dir)
        val batch = emb.filter(col("vec_id") < 200).select(
          (col("vec_id") + 10000).as("vec_id"),
          when(pmod(col("vec_id"), lit(7)) === 0, col("embedding"))
            .otherwise(reverse(col("embedding"))).as("embedding"))
        Similarity.appendToIvfPqIndex(s, dir, batch, "vec_id", "embedding")
        Similarity.compactIvfPqIndex(s, dir, numFiles = 4)
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5),
          Similarity.loadIvfPqIndex(s, dir),
          "vec_id", "embedding", 10, nProbe = 4)
          .orderBy("query_id", "rank")
      }),

    // incremental SemDeDup (round 9): drop NEW-batch vectors that
    // near-duplicate the indexed corpus — batch probes its nProbe
    // nearest corpus cells and compares only within them. Batch =
    // planted variants of corpus vectors (identity every 7th → always
    // dropped; reversed otherwise), fully replayable.
    Q("pl_incr_semdedup", {
      import SignLshSql._
      s"""WITH ${ivfAssignCtes(64)},
         |bat AS (SELECT vec_id + 10000 AS bid,
         |        CASE WHEN vec_id % 7 = 0 THEN embedding
         |             ELSE list_reverse(embedding) END AS bv
         |        FROM embeddings WHERE vec_id < 200),
         |bpb AS (SELECT bat.bid, s.cell,
         |          ${cosineVsCent("bat.bv", "s.cent", 64)} AS score
         |        FROM bat CROSS JOIN refined s),
         |bcells AS (SELECT bid, cell, rn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY bid
         |      ORDER BY score DESC, cell DESC) AS rn FROM bpb)
         |  WHERE rn <= 2),
         |drops AS (SELECT DISTINCT b.bid
         |          FROM bcells pc
         |          JOIN bat b ON b.bid = pc.bid
         |          JOIN bcell c ON pc.cell = c.cell
         |          JOIN embeddings e ON c.vec_id = e.vec_id
         |          WHERE ${cosine("b.bv", "e.embedding", 64)} >= 0.95)
         |SELECT b.bid AS vec_id, CAST(pc.cell AS INTEGER) AS cell
         |FROM bat b JOIN bcells pc ON b.bid = pc.bid AND pc.rn = 1
         |WHERE b.bid NOT IN (SELECT bid FROM drops)
         |ORDER BY vec_id""".stripMargin
    })(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val batch = emb.filter(col("vec_id") < 200).select(
          (col("vec_id") + 10000).as("vec_id"),
          when(pmod(col("vec_id"), lit(7)) === 0, col("embedding"))
            .otherwise(reverse(col("embedding"))).as("embedding"))
        Similarity.incrementalSemDedup(
          batch, emb, "vec_id", "embedding", threshold = 0.95)
          .orderBy("vec_id")
      }),

    // IVF coarse-quantized ANN (deterministically seeded k-means cells) —
    // full cross-engine oracle (ivfOracleSql): the exact-integer Lloyd
    // sweep makes the whole path replayable; recall vs brute force
    // additionally asserted in PipelineSpec
    Q("pl_ann_ivf", ivfOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        Similarity.ivfTopK(
          emb.filter(col("vec_id") < 5), emb,
          "vec_id", "vec_id", "embedding", 10, nCells = 16, nProbe = 4)
          .select("query_id", "rank", "neighbor_id")
          .orderBy("query_id", "rank")
      }),

    // RAG-style overlapping token chunks (chunk 40, overlap 8, stride
    // 32): pure HOF lowering, map-side; the oracle replays the window
    // arithmetic with list slices
    Q("pl_chunk",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)
        |      AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, CAST(ceil(CAST(greatest(len(toks) - 8, 1)
        |      AS DOUBLE) / 32) AS BIGINT))) AS chunk_ix
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id AS id, chunk_ix,
        |  array_to_string(toks[chunk_ix * 32 + 1 : chunk_ix * 32 + 40], ' ')
        |    AS chunk_text,
        |  CAST(len(toks[chunk_ix * 32 + 1 : chunk_ix * 32 + 40]) AS BIGINT)
        |    AS chunk_tokens
        |FROM c ORDER BY id, chunk_ix""".stripMargin)(
      (s, d) => TextAnalysis.chunk(
        Tables.load(s, d, "documents"), "doc_id", "text",
        chunkTokens = 40, overlapTokens = 8)
        .orderBy("id", "chunk_ix")),

    // CCNet-style LM quality deciles: add-one bigram LM fit on the
    // corpus, documents ranked by average token log-prob per language.
    // Per-bigram log-probs round to integer nano-units BEFORE summing, so
    // each document's total is partition-order-exact and identical texts
    // tie byte-identically (ranks then break by id); the raw sum s stays
    // out of the gate (a 1-ULP libm difference may flip a single rounding
    // step) while the deciles are stable under it
    Q("pl_lm_quality",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)
        |      AS toks
        |  FROM documents),
        |bgs AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM t),
        |c12 AS (SELECT bg, count(*) AS c12 FROM bgs GROUP BY bg),
        |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1
        |       FROM bgs GROUP BY 1),
        |vv AS (SELECT count(DISTINCT w) AS V
        |       FROM (SELECT unnest(toks) AS w FROM t)),
        |li AS (
        |  SELECT doc_id, lang,
        |    CAST(round(ln(CAST(c12.c12 + 1 AS DOUBLE) /
        |                  CAST(c1.c1 + vv.V AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS li
        |  FROM bgs JOIN c12 USING (bg)
        |           JOIN c1 ON string_split(bgs.bg, ' ')[1] = c1.w1
        |           CROSS JOIN vv),
        |sc AS (SELECT doc_id, lang, count(*) AS nb, sum(li) AS s
        |       FROM li GROUP BY 1, 2),
        |rk AS (SELECT *,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(s AS DOUBLE) / nb DESC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM sc)
        |SELECT doc_id AS id, lang AS grp, nb,
        |       CAST((rn - 1) * 10 // cnt AS BIGINT) AS decile
        |FROM rk ORDER BY id""".stripMargin)(
      (s, d) => TextAnalysis.lmQuality(
        Tables.load(s, d, "documents"), "doc_id", "text", "lang")
        .select("id", "grp", "nb", "decile")
        .orderBy("id")),

    // NAIVE BAYES classifier (round 14): in-engine model-based
    // filtering — train a multinomial NB on a labeled seed set
    // (doc_id < 300, label = source), classify the rest of the corpus
    // with the frozen model. All log-probs nano-rounded to longs at
    // train time (the lmQuality discipline), classification sums exact
    // integers, so the oracle replays training and scoring term for
    // term; the gate compares the argmax (robust to the 1-ULP libm
    // band — class margins are ~1e8 nanos, never single nanos).
    Q("pl_nb_classifier",
      "WITH " + nbOracleCtes + """
        |SELECT doc_id, label AS predicted FROM rk
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        TextAnalysis.nbClassify(
          docs.filter(col("doc_id") >= 300), "doc_id", "text",
          nbGateModel(s, d))
          .orderBy("doc_id")
      }),

    // NB THRESHOLD FILTER (round 15): the actual FineWeb-Edu / DCLM
    // curation operation — keep documents the frozen classifier assigns
    // the target class with at least τ nano-log-units of margin over the
    // runner-up (the length-robust confidence; argmax alone cannot
    // express "score clears τ"). Scores are exact integer sums of
    // nano-rounded model longs, so the margin INTEGERS replay exactly;
    // τ sits in a 65M-nano-wide gap of the sf0.01 margin distribution,
    // far above any 1-ULP libm band (≤ doc_len nanos). The gate OUTPUT
    // narrows the engine's DECIMAL(38,0) margin to BIGINT on both sides
    // (the r13 pl_modularity motion — the driver's value hasher
    // normalizes decimal columns asymmetrically, so a decimal-typed
    // output column hash-mismatches even on bit-equal values; gate-scale
    // margins are ≤ 2.3e9, eight orders inside BIGINT).
    Q("pl_nb_filter",
      "WITH " + nbOracleCtes + """
        |SELECT doc_id,
        |  CAST(score - nxt AS BIGINT) AS margin_nano FROM rk
        |WHERE rn = 1 AND label = 'src14' AND score - nxt >= 350000000
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        TextAnalysis.nbFilter(
          docs.filter(col("doc_id") >= 300), "doc_id", "text",
          nbGateModel(s, d),
          keepLabel = "src14", minMarginNano = 350000000L)
          .withColumn("margin_nano", col("margin_nano").cast("long"))
          .orderBy("doc_id")
      }),

    // PERCENTILE-THRESHOLD CURATION (round 16): the production
    // FineWeb-Edu form of the filter above — keep the top 25% of
    // keepLabel-predicted documents BY MARGIN, not a fixed τ. The
    // engine learns the exact ceil(p·n)-th-largest cutoff via bounded
    // histogram passes (Sampling.kthLargest — never a global sort; the
    // oracle replays the selection as row_number() DESC at rank k over
    // the same exact integer margins). Ties at the cutoff are kept by
    // both engines, so the survivor set is a pure property of the data.
    Q("pl_curation_topfrac",
      "WITH " + nbOracleCtes + """,
        |marg AS (SELECT doc_id, score - nxt AS m FROM rk
        |         WHERE rn = 1 AND label = 'src14'),
        |stat AS (SELECT count(*) AS n FROM marg),
        |cutk AS (SELECT m AS c FROM (
        |    SELECT m, row_number() OVER (ORDER BY m DESC) AS r
        |    FROM marg), stat
        |  WHERE r = CAST(ceil(0.25 * n) AS BIGINT))
        |SELECT doc_id, CAST(m AS BIGINT) AS margin_nano
        |FROM marg, cutk WHERE m >= c ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        TextAnalysis.nbFilterTopFraction(
          docs.filter(col("doc_id") >= 300), "doc_id", "text",
          nbGateModel(s, d), keepLabel = "src14", fraction = 0.25)
          .orderBy("doc_id")
      }),

    // CLASS-BALANCED percentile curation (round 16): the top 25% BY
    // MARGIN WITHIN EACH PREDICTED CLASS — the balanced form of the
    // gate above (head classes can't crowd the budget). One scored
    // pass + one class-keyed shuffle with a per-class rank and a
    // tie-inclusive rank-ceil(p·n_c) cutoff; the oracle replays the
    // same windows over the same exact integer margins.
    Q("pl_curation_topfrac_class",
      "WITH " + nbOracleCtes + """,
        |marg AS (SELECT doc_id, label AS predicted, score - nxt AS m
        |         FROM rk WHERE rn = 1),
        |wr AS (SELECT doc_id, predicted, m,
        |    row_number() OVER (PARTITION BY predicted
        |      ORDER BY m DESC, doc_id) AS rn2,
        |    count(*) OVER (PARTITION BY predicted) AS n FROM marg),
        |cut AS (SELECT predicted,
        |    max(CASE WHEN rn2 = CAST(ceil(0.25 * n) AS BIGINT)
        |        THEN m END) AS c
        |  FROM wr GROUP BY predicted)
        |SELECT w.doc_id, w.predicted, CAST(w.m AS BIGINT) AS margin_nano
        |FROM wr w JOIN cut ON w.predicted = cut.predicted
        |WHERE w.m >= cut.c ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        TextAnalysis.nbFilterTopFractionByClass(
          docs.filter(col("doc_id") >= 300), "doc_id", "text",
          nbGateModel(s, d), fraction = 0.25)
          .orderBy("doc_id")
      }),

    // NB MODEL LIFECYCLE (round 15): train → SAVE → LOAD → classify
    // must be bit-identical to classifying with the in-memory model
    // (every stored column is an exact long; parquet round-trips them
    // exactly) — the kmeans-model persist/load contract for the
    // classifier, so production pipelines train once on the seed set
    // and score every nightly batch under the frozen stored model.
    // Same oracle as pl_nb_classifier.
    Q("pl_nb_model_batch",
      "WITH " + nbOracleCtes + """
        |SELECT doc_id, label AS predicted FROM rk
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-nb-model").toString
        TextAnalysis.saveNbModel(nbGateModel(s, d), dir)
        TextAnalysis.nbClassify(
          docs.filter(col("doc_id") >= 300), "doc_id", "text",
          TextAnalysis.loadNbModel(s, dir))
          .orderBy("doc_id")
      }),

    // MODEL-BASED CURATION FUNNEL (round 15): the composition the new
    // classifier pieces exist for, end to end under one oracle —
    // heuristic length gate (≥ 30 tokens, 162/200 pass) → frozen-model
    // classification with a CONFIDENCE cut (margin ≥ 100M nanos; the
    // nearest sf0.01 margin is 1.5M away, four orders above the ULP
    // band) → exact dedup among the confident survivors (min-id keeper
    // per text) → per-class survivor counts. The per-doc scores are
    // frozen-model pure, so gating before classifying changes nothing
    // but the row count — exactly how a production pipeline staggers
    // the cheap filters before the model pass.
    Q("pl_curation_model",
      "WITH " + nbOracleCtes + """,
        |qdoc AS (SELECT doc_id, text FROM documents WHERE doc_id >= 300
        |  AND len(list_filter(string_split_regex(text, '\s+'),
        |                      x -> len(x) > 0)) >= 30),
        |conf AS (SELECT r.doc_id, r.label AS predicted, d.text
        |         FROM rk r JOIN qdoc d USING (doc_id)
        |         WHERE r.rn = 1 AND r.score - r.nxt >= 100000000),
        |keep AS (SELECT conf.*, min(doc_id) OVER (PARTITION BY text)
        |           AS keeper FROM conf)
        |SELECT predicted, CAST(count(*) AS BIGINT) AS n_confident,
        |  CAST(count(*) FILTER (WHERE keeper = doc_id) AS BIGINT)
        |    AS n_kept
        |FROM keep GROUP BY predicted ORDER BY predicted""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val q = docs.filter(col("doc_id") >= 300 &&
          size(TextAnalysis.tokens(col("text"))) >= 30)
        val conf = TextAnalysis.nbClassifyScored(
          q, "doc_id", "text", nbGateModel(s, d))
          .filter(col("margin_nano") >= lit(100000000L))
          .join(q.select("doc_id", "text"), "doc_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("text"))
        conf.withColumn("keeper", min(col("doc_id")).over(w))
          .groupBy("predicted")
          .agg(count(lit(1)).as("n_confident"),
            count_if(col("keeper") === col("doc_id")).as("n_kept"))
          .orderBy("predicted")
      }),

    // fuzzy (edit-distance) near-dup: MinHash-LSH candidates verified
    // with exact Levenshtein — the OCR-noise/typo-farm dedup shape. Same
    // bounded shuffle as pl_minhash_dups (only band tuples and candidate
    // pairs move); the oracle swaps the Jaccard tail of the shared XXH64
    // band CTE chain for a levenshtein() verify
    Q("pl_edit_dups", editDupsOracleSql(4))(
      (s, d) => Dedup.editDistancePairs(
        Tables.load(s, d, "documents"), "doc_id", "text", maxDist = 4)
        .orderBy("id_a", "id_b")),

    // URL-level exact dedup (the CommonCrawl dedup key): canonicalize —
    // case, default ports, fragments, tracking params, param order,
    // trailing slashes — then keep the lowest doc_id per canonical form.
    // One hash shuffle; the oracle derives the expected canonical forms
    // independently from the synthesis rule
    Q("pl_dedup_url",
      """SELECT canon, min(doc_id) AS keep, count(*) AS n FROM (
        |  SELECT doc_id, CASE WHEN doc_id % 4 IN (0, 1)
        |    THEN 'https://www.example' || (doc_id % 50) || '.com/a/b?a=1&b=2'
        |    ELSE 'http://site' || (doc_id % 50) || '.org/' END AS canon
        |  FROM documents) t
        |GROUP BY canon ORDER BY canon""".stripMargin)(
      (s, d) => {
        val m4 = col("doc_id") % 4
        val m50 = (col("doc_id") % 50).cast("string")
        val url = when(m4 === 0, concat(lit("HTTPS://WWW.Example"), m50,
            lit(".com:443/a/b/?utm_source=x&b=2&a=1#frag")))
          .when(m4 === 1, concat(lit("https://www.example"), m50,
            lit(".com/a/b?a=1&b=2")))
          .when(m4 === 2, concat(lit("http://Site"), m50, lit(".org:80")))
          .otherwise(concat(lit("http://site"), m50, lit(".org/?gclid=zzz")))
        Tables.load(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.canonicalUrl(url).as("canon"))
          .groupBy("canon")
          .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
          .orderBy("canon")
      }),

    // SemDeDup (arXiv:2303.09540): IVF-cluster the embedding corpus, keep
    // the lowest-id exemplar inside each cosine ε-ball — pairwise verify
    // runs per CLUSTER (Σ|cell|² work, the paper's cost model), one
    // cell-keyed shuffle, centroids broadcast-sized. Bit-exact oracle via
    // the shared integer-Lloyd assignment CTEs.
    Q("pl_semdedup", semDedupOracleSql)(
      (s, d) => Similarity.semDedup(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, nCells = 16)
        .orderBy("vec_id")),

    // K-MEANS as a first-class operator (round 14): SemDeDup's
    // clustering step / the embedding-space stratifier, exposed —
    // deterministic hash-ordered seeds, THREE integer-exact Lloyd
    // sweeps (each one corpus scan against broadcast centroids + a
    // k×dim-bounded partial-agg mean), cosine nearest-cell assignment.
    // The oracle unrolls every sweep: assignment argmax + scaled-sum
    // mean, hash-exact.
    Q("pl_kmeans", kmeansOracleSql)(
      (s, d) => Similarity.kmeansAssignWith(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding",
        kmeansGateModel(s, d, k = 12, sweeps = 3))
        .orderBy("vec_id")),

    // NEAREST-CLASS-CENTROID classifier (round 15): the embedding-space
    // twin of pl_nb_classifier — train per-class mean embeddings on the
    // labeled seed (exact scaled-long sums, the Lloyd mean formula),
    // classify the tail by nano-rounded cosine argmax with the
    // runner-up margin alongside (the curation filter's threshold
    // number). ONE narrow codegen'd pass at classify time: the
    // |classes| × dim model rides the rows as literals — no join, no
    // shuffle, no doc × class rows (the shape the NB classifier's
    // round-15 restructure arrived at, native here).
    Q("pl_centroid_classify",
      s"""WITH $centroidOracleCtes
         |SELECT vec_id, label AS predicted, cn AS score_nano,
         |       cn - nxt AS margin_nano
         |FROM crk WHERE rn = 1 ORDER BY vec_id""".stripMargin)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val model = centroidGateModel(s, d)
        Similarity.centroidClassifyScored(
          emb.filter(col("vec_id") >= 300), "vec_id", "embedding", model)
          .orderBy("vec_id")
      }),

    // ... and its threshold-filter + model-lifecycle composition: train
    // → SAVE → LOAD → keep rows the frozen stored model assigns class
    // '3' with ≥ τ nano-cosine margin (floats round-trip parquet
    // exactly, so the stored model classifies bit-identically).
    Q("pl_centroid_filter",
      s"""WITH $centroidOracleCtes
         |SELECT vec_id, cn - nxt AS margin_nano
         |FROM crk WHERE rn = 1 AND label = '3'
         |  AND cn - nxt >= 30000000 ORDER BY vec_id""".stripMargin)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-centroid-model").toString
        Similarity.saveCentroidModel(s, centroidGateModel(s, d), dir)
        Similarity.centroidFilter(
          emb.filter(col("vec_id") >= 300), "vec_id", "embedding",
          Similarity.loadCentroidModel(s, dir),
          keepLabel = "3", minMarginNano = 30000000L)
          .orderBy("vec_id")
      }),

    // K-MEANS OBJECTIVE (round 15): the within-cluster cosine objective
    // under the trained centroids — the elbow number that picks k and
    // the degenerate-seeding detector (empty clusters are ABSENT rows).
    // Each vector's 1e9·(1 − cos) term is nano-rounded to a long before
    // summing, so the per-cluster aggregate is an exact integer the
    // oracle replays from the unrolled-sweep CTEs' final probe scores.
    // The gate OUTPUT narrows the engine's DECIMAL(38,0) sum to BIGINT
    // on both sides (the r13 pl_modularity motion — the driver's value
    // hasher normalizes decimal columns asymmetrically; gate-scale
    // totals are ≤ 3.8e10, eight orders inside BIGINT). The engine
    // keeps DECIMAL internally: a 100 TB cluster's sum of 2e9-nano
    // terms genuinely overflows BIGINT.
    Q("pl_kmeans_objective",
      s"""WITH $kmeansCtes,
         |aobj AS (SELECT k.vec_id, k.cluster, p.score
         |         FROM kasn k JOIN pf p
         |           ON k.vec_id = p.vec_id AND k.cluster = p.cell)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(round((1 - score) * 1e9) AS BIGINT))
         |    AS BIGINT) AS objective_nano
         |FROM aobj GROUP BY cluster ORDER BY cluster""".stripMargin)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val cents = kmeansGateModel(s, d, k = 12, sweeps = 3)
        Similarity.kmeansObjective(emb, "embedding", cents)
          .withColumn("objective_nano", col("objective_nano").cast("long"))
          .orderBy("cluster")
      }),

    // K-MEANS ELBOW SWEEP (round 16): the comparison pl_kmeans_objective
    // exists for — train at k ∈ {4, 12, 24} and read the total
    // within-cluster objective per k (the actual elbow read; on this
    // corpus the hash-ordered seeds nest across k, so the totals
    // decrease in k — PipelineSpec asserts that read). Three prefixed
    // copies of the unrolled Lloyd chain coexist under one oracle WITH;
    // each total is the same exact-integer per-vector nano sum, so the
    // three-row output hash-matches. BIGINT outputs (the gate-boundary
    // contract).
    Q("pl_kmeans_elbow", {
      val branches = Seq(4 -> "e4", 12 -> "e12", 24 -> "e24")
      s"""WITH ${branches.map { case (k, p) => kmeansCtes(k, p) }
           .mkString(",\n")},
         |tot AS (${branches.map { case (k, p) =>
             s"""SELECT CAST($k AS INT) AS k,
                |  CAST(sum(CAST(round((1 - y.score) * 1e9) AS BIGINT))
                |    AS BIGINT) AS objective_nano
                |FROM ${p}kasn x JOIN ${p}pf y
                |  ON x.vec_id = y.vec_id AND x.cluster = y.cell"""
               .stripMargin }.mkString("\nUNION ALL\n")})
         |SELECT k, objective_nano FROM tot ORDER BY k""".stripMargin
    })(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        Seq(4, 12, 24).map { k =>
          val cents = kmeansGateModel(s, d, k = k, sweeps = 3)
          Similarity.kmeansObjective(emb, "embedding", cents)
            .agg(sum(col("objective_nano")).cast("long")
              .as("objective_nano"))
            .select(lit(k).as("k"), col("objective_nano"))
        }.reduce(_.unionByName(_)).orderBy("k")
      }),

    // CLUSTER-BALANCED SAMPLING (round 14): the SemDeDup-pipeline
    // composition — k-means the embedding space, then a deterministic
    // per-cluster quota (the k smallest mixed hashes per stratum, the
    // pl_sample_stratified rule keyed by cluster instead of language).
    // Balances a sample across semantic regions instead of letting the
    // head domains dominate; reproducible end to end.
    Q("pl_cluster_sample",
      s"""WITH $kmeansCtes
         |SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (
         |    PARTITION BY cluster
         |    ORDER BY ${Sampling.mixSql("vec_id")}, vec_id) AS rn2
         |  FROM kasn)
         |WHERE rn2 <= 10 ORDER BY vec_id""".stripMargin)(
      (s, d) => {
        val clusters = Similarity.kmeansAssignWith(
          Tables.load(s, d, "embeddings"), "vec_id", "embedding",
          kmeansGateModel(s, d, k = 12, sweeps = 3))
        Sampling.stratified(clusters, "cluster", "vec_id", k = 10)
          .select("vec_id", "cluster")
          .orderBy("vec_id")
      }),

    // KMEANS MODEL LIFECYCLE (round 14): train once on the corpus,
    // PERSIST the k×dim model, load it back, and assign a NIGHTLY BATCH
    // (shifted ids, reversed vectors) under the FROZEN geometry — the
    // same frozen-model contract as the PQ/IVF lifecycles, so
    // cluster-keyed downstream state stays comparable across days. The
    // float centroids round-trip parquet exactly; the oracle replays
    // the training and assigns the same transformed batch against the
    // final centroid table.
    Q("pl_kmeans_batch", {
      import SignLshSql._
      s"""WITH $kmeansCtes,
         |batch AS (SELECT vec_id + 10000 AS vec_id,
         |    list_reverse(embedding) AS embedding FROM embeddings),
         |pf2 AS (SELECT b.vec_id, s.cell,
         |    ${cosineVsCent("b.embedding", "s.cent", 64)} AS score
         |  FROM batch b CROSS JOIN c3 s)
         |SELECT vec_id, CAST(cell AS INTEGER) AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn FROM pf2)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin
    })(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-kmeans-model").toString
        Similarity.saveKmeansModel(s,
          kmeansGateModel(s, d, k = 12, sweeps = 3), dir)
        val batch = emb.select((col("vec_id") + 10000).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
        Similarity.kmeansAssignWith(batch, "vec_id", "embedding",
          Similarity.loadKmeansModel(s, dir))
          .orderBy("vec_id")
      }),

    // exact near-dup pairs on a bounded window — DuckDB-oracled (ids only;
    // scores are engine-summation-order dependent)
    Q("pl_cosine_dups_exact",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => {
        val e = Tables.load(s, d, "embeddings").filter(col("vec_id") < 200)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .filter(Similarity.cosine(col("va"), col("vb")) >= 0.35)
          .select("id_a", "id_b")
          .orderBy("id_a", "id_b")
      }),

    // skew-safe salted aggregation (l_returnflag is low-cardinality = the
    // skewed-key shape); l_quantity is integer-valued so the two-phase sum
    // is order-exact against the oracle
    Q("pl_salted_agg",
      """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_l_quantity
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)(
      (s, d) => graft.functions.Skew.saltedAggregate(
        Tables.load(s, d, "lineitem"), "l_returnflag", "l_quantity", buckets = 32)
        .orderBy("l_returnflag")),

    // embedding near-dup pairs via banded sign-LSH + exact verify on
    // candidates — rows-only (approximate); recall vs pl_cosine_dups_exact
    // asserted in PipelineSpec on the overlapping window
    Q("pl_cosine_dups", cosineDupsOracleSql)(
      (s, d) => Similarity.cosineDupPairs(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, nPlanes = 32, rowsPerBand = 4)
        .orderBy("id_a", "id_b")),

    // gap-based sessionization over the events log (session_window — one
    // merging shuffle); oracle recomputes sessions with lag + running sum.
    // Integer-cents value sum keeps the hash cross-engine-exact.
    Q("pl_sessionize",
      """WITH flags AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 7200 SECOND
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flags)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 7200 SECOND AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)(
      (s, d) => graft.functions.Sessionize.sessions(
        Tables.load(s, d, "events"), "user_id", "ts",
        gapSeconds = 7200L, valueCol = "value")
        .orderBy("user_id", "session_start")),

    // dup-cluster resolution: connected components (iterative hash-to-min
    // label propagation) over the exact-cosine dup-pair edges — pairs →
    // clusters → one canonical keeper per component. Oracle recomputes the
    // components as a recursive-CTE transitive closure (bounded window).
    Q("pl_dup_clusters",
      """WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 200),
        |pairs AS (SELECT a.vec_id AS s, b.vec_id AS d FROM e a, e b
        |          WHERE a.vec_id < b.vec_id
        |            AND list_cosine_similarity(a.v, b.v) >= 0.35),
        |edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT edges.d, reach.r FROM reach JOIN edges ON reach.id = edges.s)
        |SELECT id AS vec_id, min(r) AS cluster_id FROM reach
        |GROUP BY id ORDER BY vec_id""".stripMargin)(
      (s, d) => {
        val e = Tables.load(s, d, "embeddings").filter(col("vec_id") < 200)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .filter(Similarity.cosine(col("va"), col("vb")) >= 0.35)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        Graph.connectedComponents(e.select(col("vec_id").as("id")), pairs)
          .select(col("id").as("vec_id"), col("cluster_id"))
          .orderBy("vec_id")
      }),

    // ───── reproducible sampling ─────

    // reproducible per-epoch corpus shuffle: training order as a pure
    // function of (id, epoch) — a bijective affine-modular key orders the
    // permutation, a two-phase distributed prefix sum assigns 0-based
    // positions (no global single-partition window)
    Q("pl_shuffle_order",
      s"""SELECT doc_id, CAST(row_number() OVER (
         |  ORDER BY ${Sampling.shuffleKeySql("doc_id", 1L)}) - 1
         |  AS BIGINT) AS pos
         |FROM documents ORDER BY pos LIMIT 1000""".stripMargin)(
      (s, d) => Sampling.shuffleOrder(Tables.load(s, d, "documents"), "doc_id", 1L)
        .select("doc_id", "pos")
        .orderBy("pos").limit(1000)),

    // deterministic Bernoulli sample: membership = pure id arithmetic, so
    // it pushes down as a filter and replays identically in both engines
    Q("pl_sample_hash",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${Sampling.mixSql("doc_id")} < ${(0.1 * Sampling.M).toLong}
         |ORDER BY doc_id""".stripMargin)(
      (s, d) => Sampling.bernoulli(Tables.load(s, d, "documents"), "doc_id", 0.1)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // per-language quota sample: k smallest mixed hashes per stratum
    Q("pl_sample_stratified",
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang
         |    ORDER BY ${Sampling.mixSql("doc_id")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 20 ORDER BY doc_id""".stripMargin)(
      (s, d) => Sampling.stratified(
        Tables.load(s, d, "documents"), "lang", "doc_id", k = 20)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // pretraining-mixture sampling: each source sampled at its own rate
    // (src0 upweighted, src1 half, long tail thinned) — same pushed-down
    // deterministic arithmetic as pl_sample_hash, so row-reproducible
    Q("pl_sample_mixture", {
      val (r0, r1, rDef) =
        ((0.8 * Sampling.M).toLong, (0.4 * Sampling.M).toLong,
          (0.05 * Sampling.M).toLong)
      s"""SELECT doc_id, source FROM documents
         |WHERE ${Sampling.mixSql("doc_id")} <
         |      CASE WHEN source = 'src0' THEN $r0
         |           WHEN source = 'src1' THEN $r1
         |           ELSE $rDef END
         |ORDER BY doc_id""".stripMargin
    })(
      (s, d) => Sampling.mixture(
        Tables.load(s, d, "documents"), "source", "doc_id",
        rates = Map("src0" -> 0.8, "src1" -> 0.4), defaultRate = 0.05)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // temperature-based domain resampling (round 9): shares → p^(1/T),
    // downsample-only rates, same pushed-down hash filter. The oracle
    // recomputes the rates from ITS OWN counts with pow + the identical
    // 9-decimal rounding, so the decision thresholds match bit-for-bit.
    Q("pl_temp_mixture", {
      s"""WITH cnt AS (SELECT source AS d, count(*) AS n
         |            FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cnt),
         |e AS (SELECT d, pow(CAST(n AS DOUBLE) / (SELECT t FROM tot),
         |                    1.0 / 3.0 - 1.0) AS ex FROM cnt),
         |mx AS (SELECT max(ex) AS m FROM e),
         |r AS (SELECT d,
         |        CAST(trunc(round(ex / (SELECT m FROM mx), 9) *
         |             ${Sampling.M}) AS BIGINT) AS thr FROM e)
         |SELECT doc_id, source FROM documents doc JOIN r ON doc.source = r.d
         |WHERE ${Sampling.mixSql("doc_id")} < thr
         |ORDER BY doc_id""".stripMargin
    })(
      (s, d) => Sampling.temperatureMixture(
        Tables.load(s, d, "documents"), "source", "doc_id",
        temperature = 3.0)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // temperature UPSAMPLING (round 10): the replication side of the
    // mixture — rates normalized by the MIN rescaled share, each row
    // emits floor(r) copies + a deterministic-Bernoulli extra. The oracle
    // recomputes the per-domain rates from its own counts (pow + the
    // identical 9-decimal rounding) and replays the replication count per
    // row exactly, so the exploded output is hash-exact.
    Q("pl_temp_upsample", {
      s"""WITH cnt AS (SELECT lang AS d, count(*) AS n
         |            FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cnt),
         |e AS (SELECT d, pow(CAST(n AS DOUBLE) / (SELECT t FROM tot),
         |                    1.0 / 2.0 - 1.0) AS ex FROM cnt),
         |mn AS (SELECT min(ex) AS m FROM e),
         |r AS (SELECT d, round(ex / (SELECT m FROM mn), 9) AS rate FROM e),
         |c AS (SELECT doc_id, lang,
         |        CAST(floor(rate) AS BIGINT) +
         |        CASE WHEN ${Sampling.mixSql("doc_id")} <
         |          CAST(trunc((rate - floor(rate)) * ${Sampling.M}) AS BIGINT)
         |        THEN 1 ELSE 0 END AS copies
         |      FROM documents JOIN r ON lang = r.d)
         |SELECT doc_id, lang, CAST(u AS BIGINT) AS copy
         |FROM c, unnest(range(0, copies)) AS t(u)
         |ORDER BY doc_id, copy""".stripMargin
    })(
      (s, d) => Sampling.temperatureUpsample(
        Tables.load(s, d, "documents"), "lang", "doc_id",
        temperature = 2.0)
        .select("doc_id", "lang", "copy")
        .orderBy("doc_id", "copy")),

    // explicit-rate resampling (round 10): one operator for the whole
    // mixture spec — rates < 1 thin (the mixture Bernoulli decision),
    // rates > 1 replicate (floor + deterministic-Bernoulli extra). The
    // oracle replays the CASE chain and replication counts row-exactly.
    Q("pl_resample_rates", {
      def w(r: Double) = math.floor(r).toLong
      def t(r: Double) = ((r - math.floor(r)) * Sampling.M).toLong
      s"""WITH c AS (SELECT doc_id, lang,
         |        CASE WHEN lang = 'fr' THEN ${w(2.5)}
         |             WHEN lang = 'en' THEN ${w(0.4)}
         |             ELSE ${w(1.0)} END +
         |        CASE WHEN ${Sampling.mixSql("doc_id")} <
         |          CASE WHEN lang = 'fr' THEN ${t(2.5)}
         |               WHEN lang = 'en' THEN ${t(0.4)}
         |               ELSE ${t(1.0)} END
         |        THEN 1 ELSE 0 END AS copies
         |      FROM documents)
         |SELECT doc_id, lang, CAST(u AS BIGINT) AS copy
         |FROM c, unnest(range(0, copies)) AS t(u)
         |ORDER BY doc_id, copy""".stripMargin
    })(
      (s, d) => Sampling.resample(
        Tables.load(s, d, "documents"), "lang", "doc_id",
        rates = Map("fr" -> 2.5, "en" -> 0.4), defaultRate = 1.0)
        .select("doc_id", "lang", "copy")
        .orderBy("doc_id", "copy")),

    // weight-proportional reproducible sampling (A-Res with hash-derived
    // uniforms): longer docs proportionally likelier, byte-reproducible.
    // The A-Res key ln(u)/w is the one transcendental in the engine — but
    // the PROJECTED columns are all integer-exact, so the oracle only
    // needs the per-stratum ORDERING to agree, and u itself is bit-exact
    // cross-engine (pure IEEE ops on the mixSql integers). A Java-vs-
    // DuckDB ln() disagreement is ≤ a few ulp (~1e-16 relative); the
    // minimum relative gap between ANY two adjacent keys on the gate data
    // is 4.7e-6 (sf0.001) / 5.5e-5 (sf0.01) / 3.9e-7 (sf0.1) — nine-plus
    // orders of margin — so the rank-20 cut is identical in both engines.
    // GraphSamplingSpec additionally pins exact agreement with a JVM
    // recomputation, independent of any oracle.
    Q("pl_sample_weighted", {
      val u = s"((CAST(${Sampling.mixSql("doc_id")} AS DOUBLE) + 1.0) / ${Sampling.M}.0)"
      s"""WITH t AS (
         |  SELECT doc_id, lang, n_chars, ln($u) / n_chars AS wkey
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY lang ORDER BY wkey DESC, doc_id) AS rn FROM t)
         |SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20
         |ORDER BY doc_id""".stripMargin
    })(
      (s, d) => Sampling.weightedStratified(
        Tables.load(s, d, "documents"), "lang", "doc_id", "n_chars", k = 20)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // ───── PII scrub + per-group quantiles ─────

    // the corpus is synthetic word salad with no PII, so the gate plants a
    // deterministic contact line per row, then redacts it — the scrub pass
    // itself (RE2-safe patterns, map-side regexp chain) is what's verified
    Q("pl_redact",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      'contact: user' || CAST(doc_id AS VARCHAR) ||
        |        '@example.com tel +1-555-' ||
        |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, d) => Tables.load(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.redactPII(concat(
            lit("contact: user"), col("doc_id").cast("string"),
            lit("@example.com tel +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" "), col("text"))).as("redacted"))
        .orderBy("doc_id")),

    // rank-selected token-count quantiles per language — integer-exact (no
    // interpolation), so the gate hash-verifies; the IEEE double `p*cnt`
    // rank arithmetic is bit-identical in both engines
    Q("pl_token_quantiles",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |r AS (SELECT lang, n,
        |        row_number() OVER (PARTITION BY lang ORDER BY n, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY lang) AS cnt FROM t)
        |SELECT lang,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * cnt) AS BIGINT))
        |           THEN n END) AS p50,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * cnt) AS BIGINT))
        |           THEN n END) AS p90,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * cnt) AS BIGINT))
        |           THEN n END) AS p99
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        val r = t
          .withColumn("rn", row_number()
            .over(Window.partitionBy("lang").orderBy(col("n"), col("doc_id")))
            .cast("long"))
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy("lang")))
        def pick(p: Double) =
          max(when(col("rn") === greatest(lit(1L), ceil(lit(p) * col("cnt"))),
            col("n")))
        r.groupBy("lang")
          .agg(pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"))
          .orderBy("lang")
      }),

    // scale path of pl_token_quantiles: a mergeable quantile sketch
    // (percentile_approx) instead of the global rank window — partial/final
    // aggregation, no per-group sort of the full data. Approximate by
    // contract at scale, but DETERMINISTIC below the sketch budget: the
    // GK summary's merge threshold is 2·count/accuracy, which stays < 1
    // for count < accuracy/2 = 5000 (largest gate group: 2059 at sf0.1),
    // so no two samples (g ≥ 1 each) ever merge — the summary holds every
    // value with g=1, δ=0, and query(p) returns exactly the element at
    // 1-indexed rank ceil(p·count) of the sorted values. The oracle
    // replays that rank rule; it is valid only under the no-compression
    // contract, which GraphSamplingSpec pins independently.
    Q("pl_token_quantiles_approx",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |r AS (SELECT lang, n,
        |        row_number() OVER (PARTITION BY lang ORDER BY n, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY lang) AS cnt FROM t)
        |SELECT lang,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN n END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT) THEN n END) AS p90,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * cnt) AS BIGINT) THEN n END) AS p99
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin)(
      (s, d) => Tables.load(s, d, "documents")
        .select(col("lang"), TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .groupBy("lang")
        .agg(percentile_approx(
          col("n"), array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("qs"))
        .select(col("lang"),
          col("qs")(0).as("p50"), col("qs")(1).as("p90"), col("qs")(2).as("p99"))
        .orderBy("lang")),

    // EXACT GLOBAL QUANTILES, SORT-FREE (round 16): the third member
    // beside the exact per-group ranks (pl_token_quantiles) and the
    // sketch (pl_token_quantiles_approx) — exact type-1 quantiles of
    // an integer column computed by Sampling.exactQuantiles: shared
    // bounded histogram passes (kthLargestMulti — ≤ 65536-group
    // aggregates, ≤ 4 passes for any 64-bit range, all fractions
    // sharing passes while their search ranges coincide), NEVER a
    // global sort. The oracle replays each value at ascending rank
    // ceil(p·n) — tie-invariant, so selection-by-histogram and
    // rank-by-sort agree bit-for-bit.
    Q("pl_exact_quantiles",
      """WITH t AS (
        |  SELECT CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |r AS (SELECT n, row_number() OVER (ORDER BY n) AS rn,
        |             count(*) OVER () AS cnt FROM t),
        |ps(pct, p) AS (VALUES (10, 0.10), (25, 0.25), (50, 0.50),
        |                      (75, 0.75), (90, 0.90), (99, 0.99),
        |                      (100, 1.00))
        |SELECT ps.pct,
        |  max(CASE WHEN r.rn = CAST(ceil(ps.p * r.cnt) AS BIGINT)
        |      THEN r.n END) AS n_tokens
        |FROM ps CROSS JOIN r GROUP BY ps.pct ORDER BY pct""".stripMargin)(
      (s, d) => {
        import s.implicits._
        val tc = Tables.load(s, d, "documents")
          .select(TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n"))
        val ps = Seq(10, 25, 50, 75, 90, 99, 100)
        val qs = Sampling.exactQuantiles(tc, "n", ps.map(_ / 100.0))
        ps.zip(qs.map(_._2)).toDF("pct", "n_tokens").orderBy("pct")
      }),

    // ───── as-of enrichment + keyword extraction ─────

    // as-of join: each purchase picks up the latest view at-or-before it
    // for the same user. The right side is collapsed per (user, ts) first
    // so the match is deterministic. DuckDB's native ASOF JOIN is the
    // oracle for the union+carry-forward lowering (one shuffle, no
    // quadratic candidate set — see graft.functions.AsOf).
    Q("pl_asof_join",
      """WITH v AS (SELECT user_id, ts, max(value) AS v_value
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |     p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |       v.ts AS asof_ts, v.v_value AS asof_v_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin)(
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max(col("value")).as("v_value"))
        graft.functions.AsOf.join(
          purchases, views, key = "user_id", ts = "ts", payload = Seq("v_value"))
          .orderBy("event_id")
      }),

    // TF-IDF keyword extraction (integer-exact linear-idf scoring): the
    // 5 most distinctive tokens per document, hash-verified cross-engine
    Q("pl_keywords",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
        |                                    x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, token, tf, score, rank FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |         CAST(tf.tf * n.n_docs * 1000000 // df.df AS BIGINT) AS score,
        |         CAST(row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf * n.n_docs * 1000000 // df.df DESC,
        |                    tf.token) AS INTEGER) AS rank
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)(
      (s, d) => TextAnalysis.keywords(
        Tables.load(s, d, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")),

    // end-to-end near-dup removal: jaccard pair edges → connected
    // components → one keeper (min id) per cluster with its member count.
    // Same bounded window as pl_ngram_jaccard; the scalable candidate
    // generator is the minhash path. Oracle recomputes the components as
    // a recursive-CTE transitive closure.
    Q("pl_dedup_keep",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> array_to_string(toks[i:i+2], ' '))) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents WHERE doc_id < 60)),
        |pairs AS (
        |  SELECT a.doc_id AS s, b.doc_id AS d FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.s, b.s))) >= 0.2),
        |edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM sh
        |  UNION
        |  SELECT edges.d, reach.r FROM reach JOIN edges ON reach.id = edges.s),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT cluster_id AS doc_id, count(*) AS n_members
        |FROM cc GROUP BY 1 ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents").filter(col("doc_id") < 60)
        val sh = docs.select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("s"))
        val a = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
        val b = sh.select(col("doc_id").as("id_b"), col("s").as("sb"))
        val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .filter(
            size(array_intersect(col("sa"), col("sb"))).cast("double") /
              size(array_union(col("sa"), col("sb"))).cast("double") >= 0.2)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        Graph.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
          .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
          .select(col("cluster_id").as("doc_id"), col("n_members"))
          .orderBy("doc_id")
      }),

    // QUALITY-AWARE KEEPER (round 16): the FineWeb/Dolma rule — of each
    // near-dup cluster keep the BEST-scoring member, not the arbitrary
    // min-id. Same CC cluster chain as pl_dedup_keep, score = token
    // count (the operator takes any deterministic integer score); the
    // keeper is one partial-combine min-struct aggregate per cluster
    // (never a window), replayed by the oracle as a rank-1 window over
    // (score DESC, id). PLANTED ` xv1` variants (ids + 100 over the
    // first 20 docs, one token longer) give the rule teeth: at sf0.01
    // the raw <60 slice is all singletons, and every planted cluster's
    // keeper must be the HIGHER-scoring planted copy — the opposite of
    // the min-id rule, so a keeper regression to min-id fails 20 rows.
    Q("pl_dedup_keep_best",
      """WITH RECURSIVE src AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 60
        |  UNION ALL
        |  SELECT doc_id + 100 AS doc_id, text || ' xv1' AS text
        |  FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> array_to_string(toks[i:i+2], ' '))) AS s,
        |         CAST(len(toks) AS BIGINT) AS nt
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |        FROM src)),
        |pairs AS (
        |  SELECT a.doc_id AS s, b.doc_id AS d FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.s, b.s))) >= 0.2),
        |edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM sh
        |  UNION
        |  SELECT edges.d, reach.r FROM reach JOIN edges ON reach.id = edges.s),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |rk AS (SELECT cc.cluster_id, cc.id, sh.nt,
        |         row_number() OVER (PARTITION BY cc.cluster_id
        |           ORDER BY sh.nt DESC, cc.id) AS rn,
        |         count(*) OVER (PARTITION BY cc.cluster_id) AS n
        |       FROM cc JOIN sh ON cc.id = sh.doc_id)
        |SELECT cluster_id, id AS keeper_id, nt AS keeper_score,
        |       CAST(n AS BIGINT) AS n_members
        |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin)(
      (s, d) => {
        val base = Tables.load(s, d, "documents")
        val docs = base.filter(col("doc_id") < 60)
          .select("doc_id", "text")
          .unionByName(base.filter(col("doc_id") < 20).select(
            (col("doc_id") + 100).as("doc_id"),
            concat(col("text"), lit(" xv1")).as("text")))
        val sh = docs.select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("s"))
        val a = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
        val b = sh.select(col("doc_id").as("id_b"), col("s").as("sb"))
        val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .filter(
            size(array_intersect(col("sa"), col("sb"))).cast("double") /
              size(array_union(col("sa"), col("sb"))).cast("double") >= 0.2)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val clusters = Graph.connectedComponents(
          docs.select(col("doc_id").as("id")), pairs)
        val scored = clusters.join(
          docs.select(col("doc_id").as("id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("nt")),
          "id")
        Dedup.keepBestPerCluster(scored, "id", "cluster_id", "nt")
          .orderBy("cluster_id")
      }),

    // interval-containment join: errors attributed to the gap-session that
    // contains them (bin-bucketed range join — candidates only where point
    // and interval share a time bin; see graft.functions.Temporal). Oracle
    // recomputes sessions with the window-sum CTE and joins by inequality.
    Q("pl_interval_join",
      """WITH flags AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 7200 SECOND
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |grp AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flags),
        |sess AS (
        |  SELECT user_id, min(ts) AS session_start,
        |         max(ts) + INTERVAL 7200 SECOND AS session_end
        |  FROM grp GROUP BY user_id, sid)
        |SELECT s.user_id, s.session_start, count(*) AS n_errors
        |FROM sess s JOIN events e
        |  ON e.user_id = s.user_id AND e.event_type = 'error'
        | AND e.ts >= s.session_start AND e.ts <= s.session_end
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val sessions = graft.functions.Sessionize.sessions(
          ev, "user_id", "ts", gapSeconds = 7200L, valueCol = "value")
          .select("user_id", "session_start", "session_end")
        val errors = ev.filter(col("event_type") === "error")
          .select("user_id", "ts")
        graft.functions.Temporal.intervalJoin(
          errors, sessions, key = "user_id", ts = "ts",
          start = "session_start", end = "session_end", binSeconds = 3600L)
          .groupBy("user_id", "session_start")
          .agg(count(lit(1)).as("n_errors"))
          .orderBy("user_id", "session_start")
      }),

    // BM25 document search (rational idf — see TextAnalysis.bm25): top-20
    // docs for a 3-term query, every double op mirrored in the same
    // evaluation order so the oracle hash-matches bit-for-bit
    Q("pl_bm25",
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'),
        |                       x -> len(x) > 0)) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                 CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok WHERE token IN ('table', 'query', 'spark')
        |       GROUP BY 1, 2),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.token,
        |    ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |      * (tf * CAST(2.2 AS DOUBLE))
        |      / (tf + CAST(1.2 AS DOUBLE)
        |           * (CAST(0.25 AS DOUBLE)
        |              + CAST(0.75 AS DOUBLE) * dl * n_docs / total_dl)) AS score_t
        |  FROM tf JOIN dfq USING (token)
        |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats),
        |agg AS (SELECT doc_id,
        |    ((coalesce(max(CASE WHEN token = 'table' THEN score_t END),
        |               CAST(0 AS DOUBLE))
        |      + coalesce(max(CASE WHEN token = 'query' THEN score_t END),
        |                 CAST(0 AS DOUBLE)))
        |      + coalesce(max(CASE WHEN token = 'spark' THEN score_t END),
        |                 CAST(0 AS DOUBLE))) AS score
        |  FROM sc GROUP BY 1),
        |top AS (SELECT doc_id, score FROM agg
        |        ORDER BY score DESC, doc_id LIMIT 20)
        |SELECT doc_id, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |FROM top ORDER BY rank""".stripMargin)(
      (s, d) => TextAnalysis.bm25(
        Tables.load(s, d, "documents"), "doc_id", "text",
        query = Seq("table", "query", "spark"), k = 20)
        .orderBy("rank")),

    // Persisted BM25 inverted-index lifecycle (round 12): build → save →
    // probe → APPEND a day's batch → probe → DELETE a retention pass →
    // COMPACT → probe. Each probe must score exactly like a from-scratch
    // BM25 over the equivalent corpus — including the idf / length-
    // normalization shifts from the meta statistic deltas the append and
    // delete recorded. Day-0/1 probes materialize before the delete,
    // which expires the older snapshot versions their plans read.
    Q("pl_bm25_index", bm25IndexOracleSql)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bm25-index").toString
        val terms = Seq("table", "query", "spark")
        val (p250, l250) = bm25GateRows(docs.filter(col("doc_id") < 250))
        Retrieval.saveBm25IndexRows(p250, l250, dir)
        val day0 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15).localCheckpoint()
        Retrieval.appendToBm25Index(
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 375),
          "doc_id", "text", dir)
        val day1 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15).localCheckpoint()
        Retrieval.deleteFromBm25Index(s, dir,
          docs.filter(col("doc_id") < 375 && col("doc_id") % 5 === 0)
            .select("doc_id"), numFiles = 4)
        Retrieval.compactBm25Index(s, dir, numFiles = 2)
        val day2 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15)
        day0.withColumn("day", lit(0))
          .unionByName(day1.withColumn("day", lit(1)))
          .unionByName(day2.withColumn("day", lit(2)))
          .select("day", "rank", "doc_id", "score")
          .orderBy("day", "rank")
      }),
    // BM25 lifecycle with a probe in the delete→compact window (round
    // 13): the identical build→probe→append→probe→delete→compact→probe
    // cycle as pl_bm25_index, plus a FOURTH probe BETWEEN the delete and
    // the compaction — the window where the delete's meta delta must
    // already be manifest-committed (the round-13 delete wrote it as an
    // uncommitted orphan, so this probe scored with stale pre-delete
    // n_docs/total_dl; the oracle's day-2 state is the post-delete
    // corpus, so a stale-meta probe hash-mismatches).
    Q("pl_bm25_versioned", bm25LifecycleOracleSql(Seq(
      "doc_id < 250", "doc_id < 375",
      "doc_id < 375 AND doc_id % 5 <> 0",
      "doc_id < 375 AND doc_id % 5 <> 0")))(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bm25-vidx").toString
        val terms = Seq("table", "query", "spark")
        val (p250, l250) = bm25GateRows(docs.filter(col("doc_id") < 250))
        Retrieval.saveBm25IndexRows(p250, l250, dir)
        val day0 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15).localCheckpoint()
        Retrieval.appendToBm25Index(
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 375),
          "doc_id", "text", dir)
        val day1 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15).localCheckpoint()
        Retrieval.deleteFromBm25Index(s, dir,
          docs.filter(col("doc_id") < 375 && col("doc_id") % 5 === 0)
            .select("doc_id"), numFiles = 4)
        // the delete→compact window: delta-summed meta, rewritten
        // postings/lens — must equal a from-scratch post-delete index
        val day2 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15).localCheckpoint()
        Retrieval.compactBm25Index(s, dir, numFiles = 2)
        val day3 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15)
        day0.withColumn("day", lit(0))
          .unionByName(day1.withColumn("day", lit(1)))
          .unionByName(day2.withColumn("day", lit(2)))
          .unionByName(day3.withColumn("day", lit(3)))
          .select("day", "rank", "doc_id", "score")
          .orderBy("day", "rank")
      }),

    // BM25 TIME TRAVEL (round 14): after an append moves the index to
    // v2, a probe loaded AS OF v1 (loadBm25IndexAt) must score exactly
    // like the day-0 index — including the STATISTICS: meta/ travels
    // with the data (versions advance in lockstep across postings/lens/
    // meta), so the pinned probe's n_docs/total_dl are day-0's, not
    // today's. Day 2 of the output is that replay; its oracle state is
    // literally the day-0 corpus again.
    Q("pl_bm25_timetravel", bm25LifecycleOracleSql(Seq(
      "doc_id < 250", "doc_id < 375", "doc_id < 250")))(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bm25-tt").toString
        val terms = Seq("table", "query", "spark")
        val (p250, l250) = bm25GateRows(docs.filter(col("doc_id") < 250))
        Retrieval.saveBm25IndexRows(p250, l250, dir)
        val v1 = SnapshotDir.versions(s, s"$dir/lens").last
        val day0 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15).localCheckpoint()
        Retrieval.appendToBm25Index(
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 375),
          "doc_id", "text", dir)
        val day1 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15)
        val replay0 = Retrieval.bm25Probe(
          Retrieval.loadBm25IndexAt(s, dir, v1), terms, 15)
        day0.withColumn("day", lit(0))
          .unionByName(day1.withColumn("day", lit(1)))
          .unionByName(replay0.withColumn("day", lit(2)))
          .select("day", "rank", "doc_id", "score")
          .orderBy("day", "rank")
      }),

    // STREAMING ingest on a BM25 index (round 15): two micro-batches
    // through bm25IndexBatch — the exposed per-batch body of
    // bm25IndexStream (the probeBatch testing precedent; no async stream
    // needed) — probing after each. Then the crash case the composition
    // exists for: batch 1's append marker is DELETED (simulating a crash
    // between the append and the marker write) and the batch re-delivered —
    // repair-then-append must net the landed rows out of the index
    // (manifest-committed rewrites), recount meta from lens/, and
    // re-append exactly once, so the day-2 probe is bit-identical to
    // day 1 (the oracle's day-2 state is literally day 1's corpus
    // again). Closes the last ungated composition of the index stack.
    Q("pl_bm25_stream_versioned", bm25LifecycleOracleSql(Seq(
      "doc_id < 325", "doc_id < 375", "doc_id < 375")))(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bm25-svidx").toString
        val root = java.nio.file.Files
          .createTempDirectory("graft-bm25-svman").toString
        val terms = Seq("table", "query", "spark")
        val (p250, l250) = bm25GateRows(docs.filter(col("doc_id") < 250))
        Retrieval.saveBm25IndexRows(p250, l250, dir)
        graft.streaming.StreamingDedup.bm25IndexBatch(
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 325),
          dir, root, 0L, "doc_id", "text")
        val day0 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15).localCheckpoint()
        val b1 = docs.filter(col("doc_id") >= 325 && col("doc_id") < 375)
        graft.streaming.StreamingDedup.bm25IndexBatch(
          b1, dir, root, 1L, "doc_id", "text")
        val day1 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15).localCheckpoint()
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/appended-1"), false)
        graft.streaming.StreamingDedup.bm25IndexBatch(
          b1, dir, root, 1L, "doc_id", "text")
        val day2 = Retrieval.bm25Probe(
          Retrieval.loadBm25Index(s, dir), terms, 15)
        day0.withColumn("day", lit(0))
          .unionByName(day1.withColumn("day", lit(1)))
          .unionByName(day2.withColumn("day", lit(2)))
          .select("day", "rank", "doc_id", "score")
          .orderBy("day", "rank")
      }),

    // BM25 append idempotence guard (round 13): a RE-DELIVERED batch —
    // at-least-once delivery outside the streaming path's manifest
    // protection — appends with skipExisting=true, so already-indexed
    // ids anti-filter out and only the genuinely new docs land. The
    // oracle is a from-scratch BM25 over the corpus with every doc
    // counted ONCE: if the guard failed, the re-delivered docs'
    // double-counted tf/dl/n_docs rows would shift every score.
    Q("pl_bm25_skipdup", {
      val terms = Seq("table", "query", "spark")
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val sum = terms.map(t =>
        s"coalesce(max(CASE WHEN token = '$t' THEN score_t END), " +
          "CAST(0 AS DOUBLE))").reduce((a, b) => s"($a + $b)")
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(text, '\\s+'),
         |                       x -> len(x) > 0)) AS token
         |  FROM documents WHERE doc_id < 400),
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         |       FROM tok GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok WHERE token IN ($inList) GROUP BY 1, 2),
         |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |        FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, tf.token,
         |    ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
         |      * (tf * CAST(2.2 AS DOUBLE))
         |      / (tf + CAST(1.2 AS DOUBLE)
         |           * (CAST(0.25 AS DOUBLE)
         |              + CAST(0.75 AS DOUBLE) * dl * n_docs / total_dl)) AS score_t
         |  FROM tf JOIN dfq USING (token)
         |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
         |ag AS (SELECT doc_id, $sum AS score FROM sc GROUP BY 1)
         |SELECT doc_id, score,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |      AS INTEGER) AS rank
         |FROM (SELECT doc_id, score FROM ag
         |      ORDER BY score DESC, doc_id LIMIT 15)
         |ORDER BY rank""".stripMargin
    })(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bm25-skipdup").toString
        val (p250, l250) = bm25GateRows(docs.filter(col("doc_id") < 250))
        Retrieval.saveBm25IndexRows(p250, l250, dir)
        val batch = docs.filter(
          col("doc_id") >= 250 && col("doc_id") < 375)
        Retrieval.appendToBm25Index(batch, "doc_id", "text", dir)
        // the re-delivery: the same 125 docs plus 25 genuinely new ones
        // — only the new ones may land
        val redelivered = docs.filter(
          col("doc_id") >= 250 && col("doc_id") < 400)
        Retrieval.appendToBm25Index(redelivered, "doc_id", "text", dir,
          skipExisting = true)
        Retrieval.bm25Probe(Retrieval.loadBm25Index(s, dir),
          Seq("table", "query", "spark"), 15)
          .select("doc_id", "score", "rank")
          .orderBy("rank")
      }),

    // NORMALIZED exact dedup (round 12): hash the CCNet-style
    // canonicalization (lowercase, digits->0, punctuation stripped,
    // whitespace collapsed) instead of the raw text — planted variants
    // differing only in case + trailing punctuation (docs = 0 mod 9,
    // upper-cased + " !!" at +20000) must collapse into their originals'
    // groups, which raw exact dedup (pl_dedup_exact) cannot do.
    Q("pl_norm_dedup",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, upper(text) || ' !!' FROM documents
        |  WHERE doc_id % 9 = 0),
        |n AS (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(regexp_replace(
        |          lower(text), '\p{N}', '0', 'g'),
        |          '[^\p{L}\p{N}\s]', '', 'g'),
        |          '\s+', ' ', 'g')) AS nt
        |      FROM corpus)
        |SELECT md5(nt) AS norm_hash, count(*) AS n_copies,
        |       min(doc_id) AS keeper_id
        |FROM n GROUP BY 1 ORDER BY norm_hash""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        val corpus = docs.unionByName(
          docs.filter(col("doc_id") % 9 === 0)
            .select((col("doc_id") + 20000).as("doc_id"),
              concat(upper(col("text")), lit(" !!")).as("text")))
        corpus
          .groupBy(md5(TextAnalysis.normalizeForDedup(col("text"))
            .cast("binary")).as("norm_hash"))
          .agg(count(lit(1)).as("n_copies"),
            min(col("doc_id")).as("keeper_id"))
          .orderBy("norm_hash")
      }),

    // HARD-NEGATIVE mining (round 12): for each anchor the top-k most
    // similar corpus vectors with a DIFFERENT label — contrastive
    // training pairs (the near-misses the loss learns from). Label
    // exclusion is fused into the join predicate; rank-only compare
    // like the other ANN gates (cosine ties broken by neighbor_id).
    Q("pl_hard_negatives",
      """WITH q AS (SELECT vec_id AS query_id,
        |             CAST(embedding AS DOUBLE[]) AS qv, label AS ql
        |           FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id AS neighbor_id,
        |             CAST(embedding AS DOUBLE[]) AS cv, label AS cl
        |           FROM embeddings)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY list_cosine_similarity(qv, cv) DESC,
        |                    neighbor_id) AS rank
        |  FROM q, c
        |  WHERE query_id != neighbor_id AND ql != cl)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        Similarity.hardNegatives(
          emb.filter(col("vec_id") < 5), emb,
          "vec_id", "vec_id", "embedding", "label", 10)
          .select("query_id", "rank", "neighbor_id")
          .orderBy("query_id", "rank")
      }),

    // HARD NEGATIVES from a PERSISTED ANN index (round 13 — the
    // billion-vector form; pl_hard_negatives is the exact brute-force
    // baseline): train + SAVE an IVF-PQ index, reload, rank a 30-id
    // ADC pool per anchor from the compressed codes, refine-read floats
    // and labels together, drop same-label rows, exact-cosine top-10.
    // The oracle replays pool → filter → top-k hash-exact (pool from
    // the shared integer ADC chain; scores are the bit-exact cosine
    // fold). Approximation lives only in pool recall, never in the
    // output ordering or scores.
    Q("pl_hard_negatives_ann", hardNegAnnOracleSql)(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-hn-index").toString
        Similarity.saveIvfPqIndex(ivfPqGateIndex(s, d), dir)
        Similarity.hardNegativesFromIndex(
          emb.filter(col("vec_id") < 5),
          Similarity.loadIvfPqIndex(s, dir),
          emb, "vec_id", "vec_id", "embedding", "label",
          k = 10, nProbe = 4, rerank = 30)
          .orderBy("query_id", "rank")
      }),

    // BATCHED retrieval (round 12): N queries probe the persisted index
    // in ONE corpus pass — the decontamination / retrieval-scoring
    // serving shape (per-query probes would rescan the postings N
    // times). Each (query, doc) sums its term scores by folding over
    // the score list sorted by the term's POSITION in the query (the
    // solo probe's caller-order association — bit-equal across the two
    // APIs), so the double sum is bit-stable and
    // the oracle replays the identical fold with list_reduce; a query
    // whose terms are absent from the corpus returns no rows. Per-query
    // top-k is a rank-filtered window (WindowGroupLimit below the
    // exchange).
    Q("pl_bm25_many",
      """WITH queries(query_id, terms) AS (VALUES
        |    (1, ['table', 'query']),
        |    (2, ['spark', 'data', 'row']),
        |    (3, ['scan']),
        |    (4, ['zzzabsent'])),
        |-- pos comes from the ORIGINAL terms list: DuckDB's list_distinct
        |-- reorders (Spark's array_distinct keeps first-occurrence order),
        |-- and the fold order must replay the Spark side's caller order
        |qt AS (SELECT query_id, token,
        |         list_position(terms, token) AS pos
        |       FROM (SELECT query_id, terms,
        |               unnest(list_distinct(terms)) AS token
        |             FROM queries)),
        |tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'),
        |                       x -> len(x) > 0)) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |       FROM tok GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok WHERE token IN (SELECT token FROM qt)
        |       GROUP BY 1, 2),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.token,
        |    ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |      * (tf * CAST(2.2 AS DOUBLE))
        |      / (tf + CAST(1.2 AS DOUBLE)
        |           * (CAST(0.25 AS DOUBLE)
        |              + CAST(0.75 AS DOUBLE) * dl * n_docs / total_dl)) AS score_t
        |  FROM tf JOIN dfq USING (token)
        |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
        |qs AS (SELECT q.query_id, sc.doc_id, q.pos, sc.score_t
        |       FROM qt q JOIN sc ON q.token = sc.token),
        |agg AS (SELECT query_id, doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(
        |          list_sort(list(struct_pack(pos := pos, s := score_t))),
        |          x -> x.s)),
        |      (a, b) -> a + b) AS score
        |  FROM qs GROUP BY 1, 2),
        |rk AS (SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |  FROM agg)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)(
      (s, d) => {
        import s.implicits._
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bm25-many").toString
        val (pAll, lAll) = bm25GateRows(Tables.load(s, d, "documents"))
        Retrieval.saveBm25IndexRows(pAll, lAll, dir)
        val queries = Seq(
          (1L, Seq("table", "query")),
          (2L, Seq("spark", "data", "row")),
          (3L, Seq("scan")),
          (4L, Seq("zzzabsent"))).toDF("query_id", "terms")
        Retrieval.bm25ProbeMany(
          Retrieval.loadBm25Index(s, dir), queries, "query_id", "terms",
          k = 10)
          .orderBy("query_id", "rank")
      }),

    // END-TO-END pipeline composition (round 12): exact dedup → quality
    // filter → deterministic Bernoulli sample → sequence packing, ONE
    // lazy plan from corpus to packed training sequences — the "user
    // story" every per-operator gate is a piece of. Exact duplicates are
    // PLANTED (docs ≡ 0 mod 7 cloned at +10000) because the synthetic
    // corpus has none; the clones must all lose to their originals in
    // stage 1, the quality thresholds drop ~40% more, the hash sample
    // halves the rest, and the packer's distributed prefix sum assigns
    // offsets over exactly the surviving ordered stream.
    Q("pl_pipeline_e2e", {
      val sw = TextAnalysis.stopwords.map(w => s"'$w'").mkString(",")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0),
         |keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
         |surv AS (SELECT c.doc_id, c.text FROM corpus c JOIN keep USING (doc_id)),
         |q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |        CAST(len(list_filter(toks, x -> lower(x) IN ($sw)))
         |          AS DOUBLE) / greatest(len(toks), 1) AS sw
         |      FROM (SELECT doc_id,
         |              list_filter(string_split_regex(text, '\\s+'),
         |                          x -> len(x) > 0) AS toks
         |            FROM surv)),
         |fq AS (SELECT doc_id, n_tokens FROM q
         |       WHERE n_tokens >= 20 AND sw >= CAST(0.05 AS DOUBLE)),
         |samp AS (SELECT doc_id, n_tokens FROM fq
         |         WHERE ${Sampling.mixSql("doc_id")}
         |               < ${(0.5 * Sampling.M).toLong}),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |         - n_tokens AS BIGINT) AS tok_offset
         |  FROM samp)
         |SELECT doc_id, n_tokens, tok_offset,
         |  tok_offset // 512 AS seq_first,
         |  greatest(tok_offset, tok_offset + n_tokens - 1) // 512 AS seq_last
         |FROM c ORDER BY doc_id""".stripMargin
    })(
      (s, d) => {
        val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        val corpus = docs.unionByName(
          docs.filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        val keepers = Dedup.exactDupGroups(corpus, "doc_id", "text")
          .select(col("keeper_id").as("doc_id"))
        val surv = corpus.join(keepers, "doc_id")
        val q = surv
          .withColumn("q", TextAnalysis.qualityFeatures(col("text")))
          .filter(col("q.n_tokens") >= 20 &&
            col("q.stopword_ratio") >= 0.05)
          .select(col("doc_id"),
            col("q.n_tokens").cast("bigint").as("n_tokens"))
        val sampled = Sampling.bernoulli(q, "doc_id", 0.5)
        graft.functions.Packing.packSequences(
          sampled.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
          budget = 512L)
          .select("doc_id", "n_tokens", "tok_offset", "seq_first",
            "seq_last")
          .orderBy("doc_id")
      }),


    // Gopher-family repetition signals: duplicate-token fraction, top
    // token / top adjacent-bigram share. Exact counts + single divisions,
    // so the DuckDB mirror hash-matches bit-for-bit.
    Q("pl_repetition",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |uc AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |ug AS (SELECT doc_id, tok, count(*) AS c FROM uc GROUP BY 1, 2),
        |u AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |             count(*) AS n_distinct, max(c) AS top_c
        |      FROM ug GROUP BY 1),
        |bgr AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS b
        |  FROM t),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bgr GROUP BY 1, 2),
        |bt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |              max(c) AS top_bg
        |       FROM bc GROUP BY 1)
        |SELECT u.doc_id, u.n_tokens,
        |  CAST(u.n_tokens - u.n_distinct AS DOUBLE) / u.n_tokens AS dup_token_frac,
        |  CAST(u.top_c AS DOUBLE) / u.n_tokens AS top_token_frac,
        |  coalesce(CAST(bt.top_bg AS DOUBLE) / bt.n_bigrams, 0.0) AS top_bigram_frac
        |FROM u LEFT JOIN bt ON u.doc_id = bt.doc_id
        |ORDER BY u.doc_id""".stripMargin)(
      // the native map-side kernel; the exploded twin
      // (TextAnalysis.repetitionFeatures) is pinned value-identical by
      // RepetitionSpec. Zero-token docs drop, like the oracle's join.
      (s, d) => Tables.load(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionSignals(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
          col("r.dup_token_frac").as("dup_token_frac"),
          col("r.top_token_frac").as("top_token_frac"),
          col("r.top_bigram_frac").as("top_bigram_frac"))
        .filter(col("n_tokens") > 0)
        .orderBy("doc_id")),

    // concat-and-chunk sequence packing: each document's start offset in
    // the concatenated token stream and the 2048-token training sequences
    // it lands in. The Spark side is the two-phase distributed prefix sum
    // (graft.functions.Packing) — no single-task global window; the oracle
    // is the plain SQL window sum it must agree with.
    Q("pl_pack_sequences",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |         - n_tokens AS BIGINT) AS tok_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, tok_offset,
        |  tok_offset // 2048 AS seq_first,
        |  greatest(tok_offset, tok_offset + n_tokens - 1) // 2048 AS seq_last
        |FROM c ORDER BY doc_id""".stripMargin)(
      (s, d) => graft.functions.Packing.packSequences(
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        "doc_id", "n_tokens", budget = 2048L)
        .select("doc_id", "n_tokens", "tok_offset", "seq_first", "seq_last")
        .orderBy("doc_id")),

    // Z-order layout clustering key (round 10): min/max-uniformized
    // Morton interleave of (l_orderkey, l_partkey) — the lakehouse
    // multi-dimension clustering primitive (Delta/Iceberg Z-ORDER); the
    // write path range-partitions + sorts on this key so row-group
    // min/max stats prune on BOTH columns (LayoutSpec proves the
    // locality). All-integer, so the oracle recomputes its own min/max
    // and replays the bit interleave exactly.
    Q("pl_zorder", {
      val bits = 16
      val interleave = (for {
        b <- 0 until bits
        (u, i) <- Seq("uo", "up").zipWithIndex
      } yield s"(($u // ${1L << b}) % 2) * ${1L << (2 * b + i)}")
        .mkString(" + ")
      s"""WITH r AS (SELECT min(l_orderkey) AS mno, max(l_orderkey) AS mxo,
         |                  min(l_partkey) AS mnp, max(l_partkey) AS mxp
         |           FROM lineitem),
         |u AS (SELECT l_orderkey, l_linenumber, l_partkey,
         |    ((l_orderkey - (SELECT mno FROM r)) * ${1L << bits})
         |      // ((SELECT mxo FROM r) - (SELECT mno FROM r) + 1) AS uo,
         |    ((l_partkey - (SELECT mnp FROM r)) * ${1L << bits})
         |      // ((SELECT mxp FROM r) - (SELECT mnp FROM r) + 1) AS up
         |  FROM lineitem)
         |SELECT l_orderkey, l_linenumber, l_partkey,
         |  CAST($interleave AS BIGINT) AS zkey
         |FROM u ORDER BY l_orderkey, l_linenumber""".stripMargin
    })(
      (s, d) => {
        val li = Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey")
        val (keyed, _) = graft.functions.Layout.zOrderKey(
          li, Seq("l_orderkey", "l_partkey"), bits = 16)
        keyed.select("l_orderkey", "l_linenumber", "l_partkey", "zkey")
          .orderBy("l_orderkey", "l_linenumber")
      }),

    // exact triangle counts (round 10): the degree-oriented two-join
    // shape (Suri-Vassilvitskii) — each triangle enumerated once from its
    // lowest-(degree, id) apex, so no hub vertex ever owns a quadratic
    // wedge set. The oracle replays orientation, wedges, closure, and
    // per-vertex credit over the same synthetic 60-node graph.
    Q("pl_triangles",
      """WITH e0 AS (
        |  SELECT doc_id % 60 AS s, (doc_id * 7 + 1) % 60 AS d FROM documents
        |  UNION ALL
        |  SELECT doc_id % 60, (doc_id * 13 + 2) % 60 FROM documents
        |  UNION ALL
        |  SELECT (doc_id * 3) % 60, (doc_id * 11 + 5) % 60 FROM documents),
        |und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |        FROM e0 WHERE s <> d),
        |deg AS (SELECT id, count(*) AS dg FROM (
        |          SELECT a AS id FROM und UNION ALL SELECT b FROM und)
        |        GROUP BY id),
        |ori AS (SELECT
        |    CASE WHEN (da.dg < db.dg) OR (da.dg = db.dg AND a < b)
        |         THEN a ELSE b END AS u,
        |    CASE WHEN (da.dg < db.dg) OR (da.dg = db.dg AND a < b)
        |         THEN b ELSE a END AS v
        |  FROM und JOIN deg da ON und.a = da.id
        |           JOIN deg db ON und.b = db.id),
        |w AS (SELECT e1.u, e1.v AS w1, e2.v AS w2
        |      FROM ori e1 JOIN ori e2 ON e1.u = e2.u AND e1.v < e2.v),
        |t AS (SELECT u, w1, w2 FROM w
        |      JOIN und ON w.w1 = und.a AND w.w2 = und.b),
        |pv AS (SELECT id, count(*) AS n FROM (
        |         SELECT u AS id FROM t UNION ALL SELECT w1 FROM t
        |         UNION ALL SELECT w2 FROM t) GROUP BY id)
        |SELECT deg.id, CAST(dg AS BIGINT) AS deg,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN dg < 2 THEN 0.0
        |       ELSE CAST(2 * coalesce(n, 0) AS DOUBLE) / (dg * (dg - 1))
        |  END AS clustering
        |FROM deg LEFT JOIN pv USING (id) ORDER BY deg.id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val edges = docs.select(
          (col("doc_id") % 60).as("src"),
          ((col("doc_id") * 7 + 1) % 60).as("dst"))
          .unionByName(docs.select(
            (col("doc_id") % 60).as("src"),
            ((col("doc_id") * 13 + 2) % 60).as("dst")))
          .unionByName(docs.select(
            ((col("doc_id") * 3) % 60).as("src"),
            ((col("doc_id") * 11 + 5) % 60).as("dst")))
        graft.functions.Graph.clusteringCoefficients(edges).orderBy("id")
      }),

    // K-CORE DECOMPOSITION (round 11): core number per vertex by
    // ascending-k iterative peeling, on a sparsified variant of the
    // synthetic graph (generators range-restricted so the decomposition
    // is non-degenerate: cores 1, 2 and 3 all present at every SF — the
    // unrestricted graph is 4-regular-ish and peels all-at-once). The
    // oracle replays the peeling with one recursive CTE per k, using the
    // shrinking-set-size stamp so DuckDB's UNION-dedup recursion stops
    // exactly at each k-core fixpoint; a final one-round in-set degree
    // filter distinguishes the fixpoint from the empty-core stop.
    Q("pl_kcore", {
      def kcoreCte(k: Int): String =
        s"""rem$k(id, sz) AS (
           |  SELECT id, (SELECT count(*) FROM kids) FROM kids
           |  UNION
           |  SELECT id, count(*) OVER () AS sz FROM (
           |    SELECT s.u AS id FROM ksym s
           |      JOIN rem$k ru ON s.u = ru.id
           |      JOIN rem$k rv ON s.v = rv.id
           |    GROUP BY s.u HAVING count(*) >= $k) t),
           |m$k AS (SELECT id FROM rem$k
           |        WHERE sz = (SELECT min(sz) FROM rem$k)),
           |core$k AS (SELECT u AS id FROM ksym
           |           WHERE u IN (SELECT id FROM m$k)
           |             AND v IN (SELECT id FROM m$k)
           |           GROUP BY u HAVING count(*) >= $k)""".stripMargin
      s"""WITH RECURSIVE ke0 AS (
         |  SELECT doc_id % 60 AS s, (doc_id * 7 + 1) % 60 AS d
         |  FROM documents WHERE doc_id % 60 < 50
         |  UNION ALL
         |  SELECT doc_id % 60, (doc_id * 13 + 2) % 60
         |  FROM documents WHERE doc_id % 60 < 25
         |  UNION ALL
         |  SELECT (doc_id * 3) % 60, (doc_id * 11 + 5) % 60
         |  FROM documents WHERE doc_id % 60 < 12),
         |kund AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
         |         FROM ke0 WHERE s <> d),
         |ksym AS (SELECT a AS u, b AS v FROM kund
         |         UNION ALL SELECT b, a FROM kund),
         |kids AS (SELECT DISTINCT u AS id FROM ksym),
         |${(1 to 4).map(kcoreCte).mkString(",\n")}
         |SELECT id, CAST(CASE
         |    WHEN id IN (SELECT id FROM core4) THEN 4
         |    WHEN id IN (SELECT id FROM core3) THEN 3
         |    WHEN id IN (SELECT id FROM core2) THEN 2
         |    WHEN id IN (SELECT id FROM core1) THEN 1
         |    ELSE 0 END AS BIGINT) AS core
         |FROM kids ORDER BY id""".stripMargin
    })(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val r = col("doc_id") % 60
        val edges = docs.filter(r < 50).select(
          (col("doc_id") % 60).as("src"),
          ((col("doc_id") * 7 + 1) % 60).as("dst"))
          .unionByName(docs.filter(r < 25).select(
            (col("doc_id") % 60).as("src"),
            ((col("doc_id") * 13 + 2) % 60).as("dst")))
          .unionByName(docs.filter(r < 12).select(
            ((col("doc_id") * 3) % 60).as("src"),
            ((col("doc_id") * 11 + 5) % 60).as("dst")))
        val verts = edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id"))).distinct()
        graft.functions.Graph.coreNumbers(verts, edges).orderBy("id")
      }),

    // LABEL-PROPAGATION communities (round 12): 4 synchronous rounds of
    // adopt-the-most-frequent-neighbor-label (ties to the smallest),
    // labels seeded with vertex ids, over the sparsified k-core graph
    // (its community structure is non-degenerate). Deterministic by
    // construction (fixed budget + total tie order), so the oracle
    // unrolls the identical four rounds with a row_number argmax.
    Q("pl_communities",
      s"""WITH $lpaCtes
         |SELECT id, CAST(lab AS BIGINT) AS community
         |FROM lp4 ORDER BY id""".stripMargin)(
      (s, d) => {
        val (seed, _) = lpaSeedGraph(s, d)
        seed.orderBy("id")
      }),

    // MODULARITY of the LPA assignment (round 12): the quality number
    // that tells a pipeline whether to TRUST a community run (LPA can
    // degenerate to one blob; Q ≈ 0 flags it). Exact integer
    // contributions q_num = 4·m·e_c − D_c² over the implicit common
    // denominator 4m² — Graft.modularity's API keeps DECIMAL(38,0)
    // because D_c² overflows BIGINT at web-scale m, but the GATE
    // narrows q_num to BIGINT on BOTH sides (round 13): at sf-gate
    // magnitudes |q_num| < 10⁶, and the driver's value hasher
    // normalizes DECIMAL(38,0) asymmetrically between the parquet read
    // and the DuckDB result (r12: rows+schema matched, only the hash
    // split, on the suite's only decimal-typed output column).
    Q("pl_modularity",
      s"""WITH $lpaCtes,
         |intra AS (SELECT l1.lab AS community, count(*) AS intra_edges
         |          FROM kund k JOIN lp4 l1 ON k.a = l1.id
         |               JOIN lp4 l2 ON k.b = l2.id
         |          WHERE l1.lab = l2.lab GROUP BY 1),
         |deg AS (SELECT id, count(*) AS deg FROM
         |          (SELECT a AS id FROM kund
         |           UNION ALL SELECT b FROM kund) GROUP BY 1),
         |degc AS (SELECT l.lab AS community,
         |                CAST(sum(d.deg) AS BIGINT) AS degree_sum
         |         FROM deg d JOIN lp4 l ON d.id = l.id GROUP BY 1),
         |nv AS (SELECT lab AS community, count(*) AS n_vertices
         |       FROM lp4 GROUP BY 1),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM kund)
         |SELECT CAST(nv.community AS BIGINT) AS community,
         |  CAST(n_vertices AS BIGINT) AS n_vertices,
         |  CAST(coalesce(intra_edges, 0) AS BIGINT) AS intra_edges,
         |  CAST(coalesce(degree_sum, 0) AS BIGINT) AS degree_sum,
         |  CAST(4 * CAST(m AS HUGEINT) * coalesce(intra_edges, 0)
         |    - CAST(coalesce(degree_sum, 0) AS HUGEINT)
         |      * coalesce(degree_sum, 0) AS BIGINT) AS q_num
         |FROM nv LEFT JOIN intra USING (community)
         |        LEFT JOIN degc USING (community) CROSS JOIN m
         |ORDER BY community""".stripMargin)(
      (s, d) => {
        val (labels, edges) = lpaSeedGraph(s, d)
        graft.functions.Graph.modularity(labels, edges)
          .withColumn("q_num", col("q_num").cast("bigint"))
          .orderBy("community")
      }),

    // One-level LOUVAIN refinement over the LPA seed (round 13): every
    // vertex evaluates the EXACT integer modularity gain of moving to
    // each neighboring community against the frozen lp4 assignment —
    // gain·2m² = 2m·(k_ib − k_ia) − k_i·(D_b − D_a + k_i) — and moves
    // to the best strictly-positive one (ties to the smallest target).
    // Synchronous single pass: a pure function of (graph, seed), so the
    // oracle replays the identical candidate gains in HUGEINT and the
    // same argmax. The gate exercises real movement (LPA seeds this
    // quasi-random generator graph poorly — boundary vertices dominate).
    Q("pl_louvain_refine",
      s"""WITH $lpaCtes,
         |${louvainL1Ctes()}
         |SELECT id, community FROM l1 ORDER BY id""".stripMargin)(
      (s, d) => {
        val (seed, edges) = lpaSeedGraph(s, d)
        louvainL1(seed, edges).orderBy("id")
      }),

    // TWO-LEVEL Louvain (round 13): move pass → CONDENSE by the refined
    // assignment (inter-community counts as super-edge weights, intra
    // counts as self-loops) → singleton-seeded WEIGHTED move pass over
    // the super-graph with the minimum-label swap breaker (a synchronous
    // pass over singleton seeds would otherwise let mutual pairs TRADE
    // labels instead of merging) → project level-2 labels back. The
    // level-2 gain under singleton seeds reduces exactly to
    // 2m·w(u,b) − k_u·k_b with k including 2× the self-loop weight —
    // the oracle replays it term for term.
    Q("pl_louvain_two_level",
      s"""WITH $lpaCtes,
         |${louvainL1Ctes()},
         |cond AS MATERIALIZED (
         |         -- referenced 3x (plain2/loops2/m2) — materialize, or
         |         -- each reference re-runs the condense joins
         |         SELECT least(a1.community, b1.community) AS ca,
         |                greatest(a1.community, b1.community) AS cb,
         |                CAST(count(*) AS BIGINT) AS w
         |         FROM kund k JOIN l1 a1 ON k.a = a1.id
         |                     JOIN l1 b1 ON k.b = b1.id
         |         GROUP BY 1, 2),
         |plain2 AS (SELECT ca AS a, cb AS b, w FROM cond WHERE ca <> cb),
         |loops2 AS (SELECT ca AS id, 2 * w AS wl FROM cond WHERE ca = cb),
         |sym2 AS (SELECT a AS u, b AS v, w FROM plain2
         |         UNION ALL SELECT b, a, w FROM plain2),
         |degp2 AS (SELECT u AS id, CAST(sum(w) AS BIGINT) AS dp
         |          FROM sym2 GROUP BY 1),
         |ids2 AS (SELECT DISTINCT community AS id FROM l1),
         |deg2 AS (SELECT ids2.id,
         |           coalesce(dp, 0) + coalesce(wl, 0) AS k
         |         FROM ids2 LEFT JOIN degp2 USING (id)
         |                   LEFT JOIN loops2 USING (id)),
         |m2 AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM cond),
         |cg2 AS (SELECT s.u, s.v AS b,
         |          2 * CAST(m2.m AS HUGEINT) * s.w
         |            - CAST(du.k AS HUGEINT) * db.k AS gain
         |        FROM sym2 s JOIN deg2 du ON s.u = du.id
         |                    JOIN deg2 db ON s.v = db.id
         |                    CROSS JOIN m2
         |        WHERE s.v < s.u),
         |best2 AS (SELECT u, b, gain FROM (
         |    SELECT u, b, gain, row_number() OVER (PARTITION BY u
         |      ORDER BY gain DESC, b) AS rn FROM cg2) WHERE rn = 1),
         |l2 AS (SELECT i.id, CAST(CASE WHEN best2.gain > 0 THEN best2.b
         |         ELSE i.id END AS BIGINT) AS c2
         |       FROM ids2 i LEFT JOIN best2 ON i.id = best2.u)
         |SELECT l1.id, l2.c2 AS community
         |FROM l1 JOIN l2 ON l1.community = l2.id
         |ORDER BY l1.id""".stripMargin)(
      (s, d) => {
        val (seed, edges) = lpaSeedGraph(s, d)
        graft.functions.Graph.louvainLevelsFrom(
          louvainL1(seed, edges), edges, levels = 2)
          .orderBy("id")
      }),

    // COMMUNITY CONNECTIVITY diagnostic (round 14): Louvain's known
    // defect is internally-DISCONNECTED communities (Traag et al. 2019,
    // the Leiden paper) — a move pass can strand a community's bridge
    // vertex. The diagnostic restricts edges to same-community pairs,
    // runs one global connected-components pass (components cannot span
    // communities), and reports pieces per community; n_components > 1
    // is the partition a pipeline should not trust. Oracle: recursive
    // min-label reachability over the intra-community edges of the same
    // refined assignment.
    Q("pl_louvain_connectivity",
      s"""WITH RECURSIVE $lpaCtes,
         |${louvainL1Ctes()},
         |intra AS (SELECT k.a, k.b FROM kund k
         |            JOIN l1 x ON k.a = x.id
         |            JOIN l1 y ON k.b = y.id
         |          WHERE x.community = y.community),
         |isym AS (SELECT a AS s, b AS d FROM intra
         |         UNION ALL SELECT b, a FROM intra),
         |reach(id, r) AS (
         |  SELECT id, id FROM l1
         |  UNION
         |  SELECT isym.d, reach.r FROM reach JOIN isym ON reach.id = isym.s),
         |cc AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
         |SELECT l1.community, CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(count(DISTINCT cc.comp) AS BIGINT) AS n_components
         |FROM cc JOIN l1 ON cc.id = l1.id
         |GROUP BY 1 ORDER BY community""".stripMargin)(
      (s, d) => {
        val (seed, edges) = lpaSeedGraph(s, d)
        graft.functions.Graph.communityConnectivity(
          louvainL1(seed, edges), edges)
          .orderBy("community")
      }),

    // LEIDEN-STYLE SPLIT REPAIR (round 14): the fix for what the
    // connectivity diagnostic flags — every community re-splits into
    // its connected pieces, each labeled by its min member id
    // (splitting a disconnected community never decreases modularity:
    // the pieces share no edge, so only the degree-product penalty
    // moves, downward). Oracle: the same intra-community reachability
    // chain as pl_louvain_connectivity, selecting the per-vertex
    // component label instead of aggregating.
    Q("pl_leiden_split",
      s"""WITH RECURSIVE $lpaCtes,
         |${louvainL1Ctes()},
         |intra AS (SELECT k.a, k.b FROM kund k
         |            JOIN l1 x ON k.a = x.id
         |            JOIN l1 y ON k.b = y.id
         |          WHERE x.community = y.community),
         |isym AS (SELECT a AS s, b AS d FROM intra
         |         UNION ALL SELECT b, a FROM intra),
         |reach(id, r) AS (
         |  SELECT id, id FROM l1
         |  UNION
         |  SELECT isym.d, reach.r FROM reach JOIN isym ON reach.id = isym.s)
         |SELECT id, min(r) AS community FROM reach
         |GROUP BY id ORDER BY id""".stripMargin)(
      (s, d) => {
        val (seed, edges) = lpaSeedGraph(s, d)
        leidenL1(louvainL1(seed, edges), edges).orderBy("id")
      }),

    // TWO-LEVEL LEIDEN (round 14): pl_louvain_two_level's chain with
    // the connectivity repair at BOTH levels — move pass → SPLIT →
    // condense on the split assignment → singleton-seeded weighted
    // move pass → SPLIT of the super assignment → project back.
    // Condensing an unsplit disconnected community would weld its
    // pieces into one super-vertex forever; the oracle replays both
    // split passes as recursive reachability and the weighted gains
    // term for term over the REPAIRED condensed graph.
    Q("pl_leiden_two_level", leidenTwoLevelOracleSql(1, 1))(
      (s, d) => {
        val (seed, edges) = lpaSeedGraph(s, d)
        graft.functions.Graph.leidenLevelsFrom(
          leidenL1(louvainL1(seed, edges), edges), edges, levels = 2)
          .orderBy("id")
      }),

    // RESOLUTION-γ LEIDEN (round 15): modularity's known resolution
    // limit (Fortunato & Barthélemy 2007) is why Traag et al. 2019
    // recommend a tunable objective — γ = p/q scales the degree-product
    // penalty as an exact rational (gain_γ = q·2m·Δk − p·k_i·ΔD, the
    // same integer discipline), resolving finer communities at γ > 1.
    // Identical two-level chain at γ = 13/2 — chosen because it is the
    // smallest surveyed NON-INTEGER resolution that moves this fixture
    // (4 vertices change community, 38 → 37 communities), so the gate
    // exercises BOTH integer scalings (q on the edge term, p on the
    // penalty) and differs from the γ = 1 gate; the oracle replays the
    // scaled gains term for term at both levels.
    Q("pl_leiden_gamma", leidenTwoLevelOracleSql(13, 2))(
      (s, d) => {
        val (seed, edges) = lpaSeedGraph(s, d)
        graft.functions.Graph.leidenLevels(seed, edges, levels = 2,
          gammaNum = 13, gammaDen = 2)
          .orderBy("id")
      }),

    // WEIGHTED modularity of the CONDENSED level-1 graph under the
    // identity partition (round 13) — the per-level accept/reject score
    // of the multi-level loop. By the condensation-invariance property
    // (GraphSamplingSpec pins it exactly) this equals scoring the
    // original graph under the refined assignment, so the numbers are
    // meaningful across levels; under identity labels intra mass is
    // exactly each super-vertex's self-loop and D_c its weighted degree
    // with the 2× loop convention. q_num narrows to BIGINT in the GATE
    // only (the pl_modularity lesson — the checker's only decimal
    // normalization split), DECIMAL(38,0) stays in the API.
    Q("pl_louvain_score",
      s"""WITH $lpaCtes,
         |${louvainL1Ctes()},
         |cond AS MATERIALIZED (
         |         SELECT least(a1.community, b1.community) AS ca,
         |                greatest(a1.community, b1.community) AS cb,
         |                CAST(count(*) AS BIGINT) AS w
         |         FROM kund k JOIN l1 a1 ON k.a = a1.id
         |                     JOIN l1 b1 ON k.b = b1.id
         |         GROUP BY 1, 2),
         |plainc AS (SELECT ca AS a, cb AS b, w FROM cond WHERE ca <> cb),
         |loopsc AS (SELECT ca AS id, w FROM cond WHERE ca = cb),
         |sym2 AS (SELECT a AS u, w FROM plainc
         |         UNION ALL SELECT b, w FROM plainc),
         |degp2 AS (SELECT u AS id, CAST(sum(w) AS BIGINT) AS dp
         |          FROM sym2 GROUP BY 1),
         |ids2 AS (SELECT DISTINCT community AS id FROM l1),
         |deg2 AS (SELECT ids2.id,
         |           coalesce(dp, 0) + coalesce(2 * loopsc.w, 0) AS k
         |         FROM ids2 LEFT JOIN degp2 USING (id)
         |                   LEFT JOIN loopsc USING (id)),
         |m2 AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM cond)
         |SELECT i.id AS community, CAST(1 AS BIGINT) AS n_vertices,
         |  CAST(coalesce(l.w, 0) AS BIGINT) AS intra_weight,
         |  CAST(deg2.k AS BIGINT) AS degree_sum,
         |  CAST(4 * CAST(m2.m AS HUGEINT) * coalesce(l.w, 0)
         |    - CAST(deg2.k AS HUGEINT) * deg2.k AS BIGINT) AS q_num
         |FROM ids2 i LEFT JOIN loopsc l ON i.id = l.id
         |     JOIN deg2 ON i.id = deg2.id CROSS JOIN m2
         |ORDER BY community""".stripMargin)(
      (s, d) => {
        val (seed, edges) = lpaSeedGraph(s, d)
        // the level-1 assignment is materialized once — condense
        // references it on both endpoints, the identity seed too
        val l1 = louvainL1(seed, edges)
        val condensed = graft.functions.Graph.louvainCondense(l1, edges)
        val identity = l1.select(col("community").as("id")).distinct()
          .select(col("id"), col("id").as("community"))
        graft.functions.Graph.modularityWeighted(identity, condensed)
          .withColumn("q_num", col("q_num").cast("bigint"))
          .orderBy("community")
      }),

    // deterministic integer PageRank (round 10; round 11 adds the
    // textbook DANGLING-mass redistribution): 5 fixed iterations of
    // scale-scaled long arithmetic (teleport ⌊scale·15/(N·100)⌋ + damped
    // floor-divided contributions + ⌊D/N⌋ dangling share) — partition-
    // invariant and replayed exactly by unrolling the iterations in SQL.
    // Edges with src ≥ 55 are dropped so vertices 55–59 are DANGLING
    // (in-edges only) and the redistribution term is genuinely exercised.
    Q("pl_pagerank", {
      val iters = 5
      val sb = new StringBuilder
      sb ++= """WITH e0raw AS (
        |  SELECT doc_id % 60 AS s, (doc_id * 7 + 1) % 60 AS d FROM documents
        |  UNION ALL
        |  SELECT doc_id % 60, (doc_id * 13 + 2) % 60 FROM documents
        |  UNION ALL
        |  SELECT (doc_id * 3) % 60, (doc_id * 11 + 5) % 60 FROM documents),
        |e AS (SELECT DISTINCT s AS src, d AS dst FROM e0raw
        |      WHERE s <> d AND s < 55),
        |ids AS (SELECT DISTINCT id FROM (
        |          SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT count(*) AS n FROM ids),
        |od AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
        |dang AS (SELECT id FROM ids
        |         WHERE id NOT IN (SELECT src FROM od)),
        |r0 AS MATERIALIZED (
        |       SELECT id, 1000000000000 // (SELECT n FROM nn) AS r
        |       FROM ids),
        |""".stripMargin
      // each iteration references r{k-1} TWICE (dangling mass + edge
      // contributions) and DuckDB re-inlines CTEs per reference — without
      // MATERIALIZED the chain expands 2^iters-fold (measured 10.1 s;
      // materializing the 60-row rank CTEs brings it back under 1 s)
      for (k <- 1 to iters) {
        sb ++= s"""dm${k - 1} AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT)
          |    AS dm FROM r${k - 1} WHERE id IN (SELECT id FROM dang)),
          |c$k AS (SELECT e.dst AS id, r.r // od.odeg AS c
          |  FROM e JOIN od ON e.src = od.src
          |         JOIN r${k - 1} r ON e.src = r.id),
          |s$k AS (SELECT id, sum(c) AS si FROM c$k GROUP BY id),
          |r$k AS MATERIALIZED (SELECT ids.id,
          |    (1000000000000 * 15) // ((SELECT n FROM nn) * 100)
          |    + (((coalesce(si, 0)
          |         + (SELECT dm FROM dm${k - 1}) // (SELECT n FROM nn))
          |        * 85) // 100) AS r
          |  FROM ids LEFT JOIN s$k USING (id)),
          |""".stripMargin
      }
      sb.result().stripSuffix(",\n") + "\n" +
        s"""SELECT id, CAST(r AS BIGINT) AS rank_scaled
           |FROM r$iters ORDER BY id""".stripMargin
    })(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val edges = docs.select(
          (col("doc_id") % 60).as("src"),
          ((col("doc_id") * 7 + 1) % 60).as("dst"))
          .unionByName(docs.select(
            (col("doc_id") % 60).as("src"),
            ((col("doc_id") * 13 + 2) % 60).as("dst")))
          .unionByName(docs.select(
            ((col("doc_id") * 3) % 60).as("src"),
            ((col("doc_id") * 11 + 5) % 60).as("dst")))
          .filter(col("src") < 55)
        val verts = edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id"))).distinct()
        graft.functions.Graph.pageRank(verts, edges, iters = 5)
          .orderBy("id")
      }),

    // RANK-binned Z-order (round 10): the skew-proof variant — bins from
    // each column's exact global rank (distributed prefix sum, never a
    // single-task window), so heavy-hitter columns still spread across
    // bit planes. Oracle replays the rank (row_number with the same
    // tiebreak) and the integer bin + interleave exactly.
    Q("pl_zorder_rank", {
      val bits = 16
      val interleave = (for {
        b <- 0 until bits
        (u, i) <- Seq("u0", "u1").zipWithIndex
      } yield s"(($u // ${1L << b}) % 2) * ${1L << (2 * b + i)}")
        .mkString(" + ")
      s"""WITH nn AS (SELECT count(*) AS n FROM events),
         |r0 AS (SELECT event_id,
         |    row_number() OVER (ORDER BY user_id, event_id) - 1 AS p0
         |  FROM events),
         |r1 AS (SELECT event_id,
         |    row_number() OVER (ORDER BY value, event_id) - 1 AS p1
         |  FROM events),
         |b AS (SELECT event_id,
         |    (p0 * ${1L << bits}) // (SELECT n FROM nn) AS u0,
         |    (p1 * ${1L << bits}) // (SELECT n FROM nn) AS u1
         |  FROM r0 JOIN r1 USING (event_id))
         |SELECT event_id, CAST($interleave AS BIGINT) AS zkey
         |FROM b ORDER BY event_id""".stripMargin
    })(
      (s, d) => graft.functions.Layout.zOrderKeyRankBinned(
        Tables.load(s, d, "events")
          .select("event_id", "user_id", "value"),
        cols = Seq("user_id", "value"), idCols = Seq("event_id"), bits = 16)
        .select("event_id", "zkey")
        .orderBy("event_id")),

    // tokenize → pack END-TO-END (round 10): the actual pretraining data
    // path — train BPE merges on the corpus vocabulary, encode every
    // document through the learned merge table (per-word subword counts
    // joined back to the doc word stream), then pack the SUBWORD counts
    // into 2048-token training sequences via the distributed prefix sum.
    // Every component is independently gate-proven (pl_bpe_train/encode,
    // pl_pack_sequences); this gate proves the COMPOSITION end to end
    // against one oracle that replays the whole chain.
    Q("pl_tokenize_pack", {
      bpeCtes(6, withFinalSyms = true).stripSuffix("\n") + ",\n" +
        """wl AS (SELECT wid AS word, CAST(len(syms) AS BIGINT) AS n_sub
          |       FROM syms6),
          |dt AS (SELECT doc_id,
          |    unnest(list_filter(string_split_regex(text, '\s+'),
          |                       x -> len(x) > 0)) AS word
          |  FROM documents),
          |pd AS (SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_tokens
          |       FROM dt JOIN wl USING (word) GROUP BY doc_id),
          |pc AS (SELECT doc_id, n_tokens,
          |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
          |           ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
          |      AS tok_offset
          |  FROM pd)
          |SELECT doc_id, n_tokens, tok_offset,
          |  tok_offset // 2048 AS seq_first,
          |  greatest(tok_offset, tok_offset + n_tokens - 1) // 2048
          |    AS seq_last
          |FROM pc ORDER BY doc_id""".stripMargin
    })(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val (_, syms) = bpeGateTrain(s, d)
        val wordLens = Bpe.encodeTable(syms)
          .select(col("word"), col("n_subwords"))
        val perDoc = docs
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("word"))
          .join(wordLens, "word")
          .groupBy("doc_id").agg(sum("n_subwords").as("n_tokens"))
        graft.functions.Packing.packSequences(
          perDoc, "doc_id", "n_tokens", budget = 2048L)
          .select("doc_id", "n_tokens", "tok_offset", "seq_first", "seq_last")
          .orderBy("doc_id")
      }),

    // benchmark decontamination: distinct-3-gram overlap of every non-src1
    // document against the src1 "benchmark" shingle set (broadcast
    // map-side probe; only the per-doc count aggregation shuffles)
    Q("pl_contamination",
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS s
        |  FROM t),
        |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src1')
        |SELECT sh.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(bench.s) AS BIGINT) AS n_overlap,
        |  CAST(count(bench.s) AS DOUBLE) / count(*) AS contamination
        |FROM sh LEFT JOIN bench ON sh.s = bench.s
        |WHERE sh.source <> 'src1'
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        Dedup.contaminationScore(
          docs.filter(col("source") =!= "src1"), "doc_id", "text",
          docs.filter(col("source") === "src1"), "text", n = 3)
          .orderBy("doc_id")
      }),

    // embedding outlier sweep: top-3 farthest-from-centroid vectors per
    // label. Everything up to the final projection is exact scaled-integer
    // arithmetic (decimal fold / HUGEINT in DuckDB) — a float centroid
    // would be order-sensitive and never hash-match cross-engine.
    Q("pl_embed_outliers",
      """WITH sv AS (SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
        |  FROM embeddings),
        |e AS (SELECT vec_id, label, unnest(sv) AS v,
        |             unnest(range(1, len(sv) + 1)) AS pos
        |      FROM sv),
        |s AS (SELECT label, pos, CAST(sum(v) AS BIGINT) AS s
        |      FROM e GROUP BY 1, 2),
        |cent AS (SELECT label, list(s ORDER BY pos) AS sarr FROM s GROUP BY 1),
        |n AS (SELECT label, count(*) AS n FROM sv GROUP BY 1),
        |sc AS (SELECT sv.vec_id, sv.label,
        |    list_sum(list_transform(range(1, len(sv.sv) + 1),
        |      i -> (CAST(sv.sv[i] AS HUGEINT) * n.n - cent.sarr[i])
        |           * (CAST(sv.sv[i] AS HUGEINT) * n.n - cent.sarr[i]))) AS score_i
        |  FROM sv JOIN cent USING (label) JOIN n USING (label)),
        |r AS (SELECT label, vec_id,
        |    CAST(row_number() OVER (PARTITION BY label
        |      ORDER BY score_i DESC, vec_id) AS INTEGER) AS rank,
        |    CAST(score_i AS DOUBLE) AS score
        |  FROM sc)
        |SELECT label, vec_id, rank, score FROM r
        |WHERE rank <= 3 ORDER BY label, rank""".stripMargin)(
      (s, d) => graft.functions.Embeddings.labelOutliers(
        Tables.load(s, d, "embeddings"), "vec_id", "label", "embedding", k = 3)
        .orderBy("label", "rank")),

    // cross-source overlap matrix: Jaccard of distinct 3-gram vocabularies
    // per source pair — the dataset-mixing diagnostic (which sources are
    // near-copies before you weight them)
    Q("pl_source_overlap",
      """WITH t AS (SELECT source,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (SELECT DISTINCT source,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS s
        |  FROM t),
        |sz AS (SELECT source, count(*) AS sz FROM sh GROUP BY 1),
        |ov AS (SELECT a.source AS grp_a, b.source AS grp_b,
        |              CAST(count(*) AS BIGINT) AS n_common
        |       FROM sh a JOIN sh b USING (s)
        |       WHERE a.source < b.source GROUP BY 1, 2)
        |SELECT ov.grp_a, ov.grp_b, ov.n_common,
        |  CAST(ov.n_common AS DOUBLE) / (x.sz + y.sz - ov.n_common) AS jaccard
        |FROM ov JOIN sz x ON x.source = ov.grp_a
        |        JOIN sz y ON y.source = ov.grp_b
        |ORDER BY grp_a, grp_b""".stripMargin)(
      (s, d) => Dedup.groupOverlap(
        Tables.load(s, d, "documents"), "source", "text", n = 3)
        .orderBy("grp_a", "grp_b")),

    // end-to-end curation funnel: survivors after each pretraining filter
    // stage (length gate → repetition gate → exact-dedup keeper), as one
    // row of stage counts — the shape of a real curation report
    Q("pl_curation_funnel",
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |f AS (SELECT doc_id, text, len(toks) AS n_tokens,
        |    1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_frac,
        |    min(doc_id) OVER (PARTITION BY text) AS keeper
        |  FROM t)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(count(*) FILTER (WHERE n_tokens >= 30) AS BIGINT) AS n_quality,
        |  CAST(count(*) FILTER (WHERE n_tokens >= 30 AND dup_frac <= 0.6)
        |       AS BIGINT) AS n_repetition,
        |  CAST(count(*) FILTER (WHERE n_tokens >= 30 AND dup_frac <= 0.6
        |                          AND keeper = doc_id) AS BIGINT) AS n_dedup
        |FROM f""".stripMargin)(
      (s, d) => {
        val toks = TextAnalysis.tokens(col("text"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
        val f = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"), size(toks).as("n_tokens"),
            (lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks))
              .as("dup_frac"))
          .withColumn("keeper", min(col("doc_id")).over(w))
        val q = col("n_tokens") >= 30
        val r = q && col("dup_frac") <= 0.6
        f.agg(
          count(lit(1)).as("n_total"),
          count_if(q).as("n_quality"),
          count_if(r).as("n_repetition"),
          count_if(r && col("keeper") === col("doc_id")).as("n_dedup"))
      }),

    // rolling trailing-hour features per user (rate/velocity): count and
    // exact integer-cents value sum over RANGE [-1h, now] — one shuffle on
    // the key, incremental range frames, no self-join
    Q("pl_rolling_window",
      """SELECT event_id, user_id, ts,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS sum_cents_window
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 3600 SECOND PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)(
      (s, d) => graft.functions.Temporal.rollingWindow(
        Tables.load(s, d, "events"), "user_id", "ts", 3600L, "value")
        .select("event_id", "user_id", "ts", "n_window", "sum_cents_window")
        .orderBy("event_id")),

    // make-series: gap-filled per-type hourly counts over each type's own
    // time range (grid generated from the tiny bounds table, zero-filled)
    Q("pl_make_series",
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM c GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(range(h0, h1 + INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS h
        |  FROM b)
        |SELECT g.event_type, g.h, coalesce(c.n, 0) AS n
        |FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
        |ORDER BY 1, 2""".stripMargin)(
      (s, d) => graft.functions.Temporal.makeSeries(
        Tables.load(s, d, "events"), "event_type", "ts", 3600L)
        .orderBy("event_type", "h")),

    // boilerplate detection: 3-grams recurring across ≥3 distinct docs of
    // one source (headers/footers/chrome — cross-document repetition that
    // per-doc signals can't see)
    Q("pl_boilerplate",
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        |  FROM t),
        |c AS (SELECT source, shingle, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM sh GROUP BY 1, 2 HAVING count(*) >= 3),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs_total
        |        FROM documents GROUP BY 1)
        |SELECT c.source, c.shingle, c.n_docs,
        |  CAST(c.n_docs AS DOUBLE) / tot.n_docs_total AS doc_frac
        |FROM c JOIN tot ON c.source = tot.source
        |ORDER BY 1, 2""".stripMargin)(
      (s, d) => Dedup.boilerplateShingles(
        Tables.load(s, d, "documents"), "source", "doc_id", "text",
        n = 3, minDocs = 3)
        .orderBy("source", "shingle")),

    // conversion funnel over the event log: users whose FIRST view precedes
    // their first click precedes their first purchase — one grouped pass
    // for the per-user stage timestamps, one global fold
    Q("pl_event_funnel",
      """WITH f AS (SELECT user_id,
        |    min(ts) FILTER (WHERE event_type = 'view') AS v,
        |    min(ts) FILTER (WHERE event_type = 'click') AS c,
        |    min(ts) FILTER (WHERE event_type = 'purchase') AS p
        |  FROM events GROUP BY 1)
        |SELECT CAST(count(v) AS BIGINT) AS n_view,
        |  CAST(count(*) FILTER (WHERE v < c) AS BIGINT) AS n_view_click,
        |  CAST(count(*) FILTER (WHERE v < c AND c < p) AS BIGINT)
        |    AS n_view_click_purchase
        |FROM f""".stripMargin)(
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        ev.groupBy("user_id").agg(
          min(when(col("event_type") === "view", col("ts"))).as("v"),
          min(when(col("event_type") === "click", col("ts"))).as("c"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p"))
          .agg(
            count(col("v")).as("n_view"),
            count_if(col("v") < col("c")).as("n_view_click"),
            count_if(col("v") < col("c") && col("c") < col("p"))
              .as("n_view_click_purchase"))
      }),

    // ───── multimodal plumbing (stubbed codecs, real Spark shape) ─────

    // the stub decode is a rolling byte hash and the corpus is ASCII
    // (bytes == code points), so the checksum recomputes as plain SQL in
    // HUGEINT mod-2^64 arithmetic — full cross-engine hash verification
    // of the batching pipeline's output
    Q("pl_multimodal_features",
      """WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT),
        |        list_transform(string_split(text, ''),
        |                       c -> CAST(unicode(c) AS HUGEINT))),
        |      (a, c) -> (a * 31 + c) % 18446744073709551616) AS hv,
        |    length(text) AS n
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN hv >= 9223372036854775808
        |            THEN hv - 18446744073709551616 ELSE hv END AS BIGINT)
        |    AS checksum
        |FROM h ORDER BY media_id""".stripMargin)(
      (s, d) => graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.mediaFromDocuments(s, d))
        .toDF()
        .select("media_id", "kind", "n_bytes", "checksum")
        .orderBy("media_id")),

    // frame sampling cadence is pure arithmetic over the synthesized
    // durations — images yield one sample, audio/video one per 5 s
    Q("pl_multimodal_frames",
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE WHEN doc_id % 3 = 0 OR (doc_id * 97) % 30000 <= 0 THEN 1
        |              ELSE CAST(1 + ((doc_id * 97) % 30000) // 5000 AS BIGINT)
        |         END AS cnt
        |  FROM documents)
        |SELECT media_id,
        |       CAST(unnest(range(0, cnt)) AS INT) AS sample_idx,
        |       CAST(unnest(range(0, cnt)) * 5000 AS BIGINT) AS offset_ms
        |FROM m ORDER BY media_id, sample_idx""".stripMargin)(
      (s, d) => graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.mediaFromDocuments(s, d), everyMs = 5000L)
        .toDF()
        .select("media_id", "sample_idx", "offset_ms")
        .orderBy("media_id", "sample_idx")),

    // REAL image decode (javax.imageio, round 8): fixtures are a
    // deterministic (id,x,y)→RGB ramp ENCODED through the JDK PNG
    // writer, then DECODED back by the operator under test. PNG is
    // lossless, so the oracle replays the generating function in SQL —
    // a decode defect (channel order, row stride, color model) breaks
    // the integer channel sums.
    Q("pl_multimodal_decode",
      """WITH dims AS (SELECT doc_id, 8 + doc_id % 16 AS w,
        |                     8 + (doc_id * 3) % 16 AS h
        |              FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |       FROM dims, unnest(range(0, w)) AS ux(x),
        |                  unnest(range(0, h)) AS uy(y))
        |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum((doc_id * 7 + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((doc_id * 11 + 2 * x + 7 * y) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((doc_id * 13 + x + 4 * y) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)(
      (s, d) => graft.multimodal.Multimodal.decodeImageStats(
        graft.multimodal.Multimodal.syntheticPngs(s, d))
        .toDF().orderBy("media_id")),

    // REAL audio decode (javax.sound.sampled, round 8): WAV/PCM16
    // fixtures from sample(i) = ((id·31+17·i) mod 65536) − 32768; WAV is
    // lossless so the oracle sums the generating function
    Q("pl_multimodal_audio",
      """WITH clip AS (SELECT doc_id, 200 + doc_id % 100 AS n
        |              FROM documents),
        |samp AS (SELECT doc_id, n,
        |           ((doc_id * 31 + 17 * i) % 65536) - 32768 AS s
        |         FROM clip, unnest(range(0, n)) AS u(i))
        |SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(sum(s) AS BIGINT) AS sum_amp,
        |  CAST(max(s) AS BIGINT) AS max_amp
        |FROM samp GROUP BY doc_id, n ORDER BY doc_id""".stripMargin)(
      (s, d) => graft.multimodal.Multimodal.decodeAudioStats(
        graft.multimodal.Multimodal.syntheticWavs(s, d))
        .toDF().orderBy("media_id")),

    // REAL audio decimation (round 10): decode → keep every 2nd sample →
    // re-encode WAV at half rate → decode stats. Lossless PCM, so the
    // oracle replays the generating function at even sample indices —
    // the audio twin of the resize chain. (Plain decimation;
    // pl_audio_decimate_lp below checks the anti-aliased form.)
    Q("pl_audio_decimate",
      """WITH clip AS (SELECT doc_id, 200 + doc_id % 100 AS n
        |              FROM documents),
        |samp AS (SELECT doc_id, (n + 1) // 2 AS n_dec,
        |           ((doc_id * 31 + 17 * i) % 65536) - 32768 AS s
        |         FROM clip, unnest(range(0, n)) AS u(i)
        |         WHERE i % 2 = 0)
        |SELECT doc_id AS media_id, CAST(n_dec AS BIGINT) AS n_samples,
        |  CAST(sum(s) AS BIGINT) AS sum_amp,
        |  CAST(max(s) AS BIGINT) AS max_amp
        |FROM samp GROUP BY doc_id, n_dec ORDER BY doc_id""".stripMargin)(
      (s, d) => graft.multimodal.Multimodal.decodeAudioStats(
        graft.multimodal.Multimodal.decimateAudio(
          graft.multimodal.Multimodal.syntheticWavs(s, d), 2))
        .toDF().orderBy("media_id")),

    // ANTI-ALIASED audio decimation (round 11): a length-2 integer
    // boxcar (the CIC moving-average decimation filter, zero-padded
    // history) convolves BEFORE the 2:1 keep — the production resampling
    // shape, closing the r10 "no low-pass" narrowing. Lossless PCM, so
    // the oracle replays the integer convolution exactly: for each kept
    // even index i, y = (s(i) + s(i-1)) / 2 with s(-1) = 0 — DuckDB's //
    // and the JVM's / both TRUNCATE toward zero (not floor), which
    // matters because filtered sums go negative.
    Q("pl_audio_decimate_lp",
      """WITH clip AS (SELECT doc_id, 200 + doc_id % 100 AS n
        |              FROM documents),
        |samp AS (SELECT doc_id, (n + 1) // 2 AS n_dec,
        |           (((doc_id * 31 + 17 * i) % 65536) - 32768
        |            + CASE WHEN i = 0 THEN 0
        |              ELSE ((doc_id * 31 + 17 * (i - 1)) % 65536) - 32768
        |              END) // 2 AS y
        |         FROM clip, unnest(range(0, n)) AS u(i)
        |         WHERE i % 2 = 0)
        |SELECT doc_id AS media_id, CAST(n_dec AS BIGINT) AS n_samples,
        |  CAST(sum(y) AS BIGINT) AS sum_amp,
        |  CAST(max(y) AS BIGINT) AS max_amp
        |FROM samp GROUP BY doc_id, n_dec ORDER BY doc_id""".stripMargin)(
      (s, d) => graft.multimodal.Multimodal.decodeAudioStats(
        graft.multimodal.Multimodal.decimateAudioLowpass(
          graft.multimodal.Multimodal.syntheticWavs(s, d), 2))
        .toDF().orderBy("media_id")),

    // REAL image resize (round 9): decode → integer box-filter 2×
    // downscale (each output pixel = floor-mean of its 2×2 block, per
    // channel, computed with explicit integer arithmetic — not AWT
    // interpolation) → PNG re-encode → decode again for stats. The
    // oracle replays the whole chain on the ramp generating function:
    // each source value wraps mod 256 BEFORE the block sum, trailing
    // odd rows/cols drop (floor dims) — any deviation in kernel, wrap
    // order, or edge handling breaks the hash.
    Q("pl_multimodal_resize",
      """WITH dims AS (SELECT doc_id, 8 + doc_id % 16 AS w,
        |                     8 + (doc_id * 3) % 16 AS h
        |              FROM documents),
        |opx AS (SELECT doc_id, w // 2 AS ow, h // 2 AS oh, ox, oy
        |        FROM dims, unnest(range(0, w // 2)) AS ux(ox),
        |             unnest(range(0, h // 2)) AS uy(oy)),
        |vals AS (SELECT doc_id, ow, oh,
        |  ((doc_id*7 + 3*(2*ox) + 5*(2*oy)) % 256
        |   + (doc_id*7 + 3*(2*ox+1) + 5*(2*oy)) % 256
        |   + (doc_id*7 + 3*(2*ox) + 5*(2*oy+1)) % 256
        |   + (doc_id*7 + 3*(2*ox+1) + 5*(2*oy+1)) % 256) // 4 AS r,
        |  ((doc_id*11 + 2*(2*ox) + 7*(2*oy)) % 256
        |   + (doc_id*11 + 2*(2*ox+1) + 7*(2*oy)) % 256
        |   + (doc_id*11 + 2*(2*ox) + 7*(2*oy+1)) % 256
        |   + (doc_id*11 + 2*(2*ox+1) + 7*(2*oy+1)) % 256) // 4 AS g,
        |  ((doc_id*13 + (2*ox) + 4*(2*oy)) % 256
        |   + (doc_id*13 + (2*ox+1) + 4*(2*oy)) % 256
        |   + (doc_id*13 + (2*ox) + 4*(2*oy+1)) % 256
        |   + (doc_id*13 + (2*ox+1) + 4*(2*oy+1)) % 256) // 4 AS b
        |  FROM opx)
        |SELECT doc_id AS media_id, CAST(ow AS INTEGER) AS width,
        |  CAST(oh AS INTEGER) AS height, CAST(ow * oh AS BIGINT) AS n_pixels,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM vals GROUP BY doc_id, ow, oh
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => graft.multimodal.Multimodal.decodeImageStats(
        graft.multimodal.Multimodal.resizeImages(
          graft.multimodal.Multimodal.syntheticPngs(s, d), 2))
        .toDF().orderBy("media_id")),

    // REAL video frame decode (round 9): payloads are concatenated
    // frames — the MJPEG container rule (an MJPEG stream is just
    // concatenated JPEGs; splitFrames scans SOI…EOI / PNG…IEND). The
    // gate fixture concatenates LOSSLESS PNG frames of a per-frame ramp,
    // so the oracle replays the generating function per (frame, x, y);
    // the true-JPEG split path is spec-covered with lossy tolerance
    // (PipelineSpec). Inter-frame codecs (H.264 &c.) stay out of scope —
    // no JDK decoder.
    Q("pl_multimodal_video",
      """WITH dims AS (SELECT doc_id, 8 + doc_id % 8 AS w,
        |                     8 + (doc_id * 3) % 8 AS h,
        |                     2 + doc_id % 3 AS nf
        |              FROM documents),
        |px AS (SELECT doc_id, w, h, f, x, y
        |       FROM dims, unnest(range(0, nf)) AS uf(f),
        |            unnest(range(0, w)) AS ux(x),
        |            unnest(range(0, h)) AS uy(y))
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum((doc_id * 7 + 19 * f + 3 * x + 5 * y) % 256) AS BIGINT)
        |    AS sum_r,
        |  CAST(sum((doc_id * 11 + 23 * f + 2 * x + 7 * y) % 256) AS BIGINT)
        |    AS sum_g,
        |  CAST(sum((doc_id * 13 + 29 * f + x + 4 * y) % 256) AS BIGINT)
        |    AS sum_b
        |FROM px GROUP BY doc_id, f, w, h
        |ORDER BY doc_id, f""".stripMargin)(
      (s, d) => graft.multimodal.Multimodal.decodeFrameStats(
        graft.multimodal.Multimodal.syntheticFrameVideos(s, d))
        .toDF().orderBy("media_id", "frame_idx")),

    // REAL video frame decimation (round 10): structural split, every
    // 2nd frame kept, bytes re-concatenated — the temporal-downsampling
    // twin of pl_audio_decimate; per-frame decode stats of the decimated
    // stream replay the generating function at even frame indices with
    // renumbered frame ids.
    Q("pl_video_decimate",
      """WITH dims AS (SELECT doc_id, 8 + doc_id % 8 AS w,
        |                     8 + (doc_id * 3) % 8 AS h,
        |                     2 + doc_id % 3 AS nf
        |              FROM documents),
        |px AS (SELECT doc_id, w, h, f, x, y
        |       FROM dims, unnest(range(0, nf)) AS uf(f),
        |            unnest(range(0, w)) AS ux(x),
        |            unnest(range(0, h)) AS uy(y)
        |       WHERE f % 2 = 0)
        |SELECT doc_id AS media_id, CAST(f // 2 AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum((doc_id * 7 + 19 * f + 3 * x + 5 * y) % 256) AS BIGINT)
        |    AS sum_r,
        |  CAST(sum((doc_id * 11 + 23 * f + 2 * x + 7 * y) % 256) AS BIGINT)
        |    AS sum_g,
        |  CAST(sum((doc_id * 13 + 29 * f + x + 4 * y) % 256) AS BIGINT)
        |    AS sum_b
        |FROM px GROUP BY doc_id, f, w, h
        |ORDER BY doc_id, frame_idx""".stripMargin)(
      (s, d) => graft.multimodal.Multimodal.decodeFrameStats(
        graft.multimodal.Multimodal.decimateFrames(
          graft.multimodal.Multimodal.syntheticFrameVideos(s, d), 2))
        .toDF().orderBy("media_id", "frame_idx")),

    // audio NEAR-DUP dedup (round 9): 64-bit energy-profile fingerprint
    // over REAL decoded WAV/PCM (65-window pooling, consecutive-window
    // energy comparisons — the dHash analog), pairs via the shared
    // banded Hamming LSH. maxDist 7 < 8 bands ⇒ exact, so the oracle's
    // all-pairs bit compare over the replayed generating function is the
    // identical answer. Variants perturb one window (+1000 mod 2^16).
    Q("pl_audio_dedup",
      """WITH src AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v
        |             FROM documents WHERE doc_id < 240),
        |samp AS (SELECT doc_id, g, v, 200 + g % 100 AS n, i
        |         FROM src, unnest(range(0, 200 + g % 100)) AS u(i)),
        |val AS (SELECT doc_id, i * 65 // n AS w,
        |  ((((g + 1) * ((i * 65 // n) + 3) * 2654435761) % 97) % 2) * 15000
        |  + CASE WHEN v > 0 AND (i * 65 // n) = (v * 13) % 65
        |         THEN 8000 ELSE 0 END
        |  + (g * 31 + 17 * i) % 1000 AS a
        |  FROM samp),
        |win AS (SELECT doc_id, w, sum(a) AS s, count(*) AS c
        |        FROM val GROUP BY doc_id, w),
        |bits AS (SELECT a.doc_id, a.w AS i,
        |           CASE WHEN b.s * a.c > a.s * b.c THEN 1 ELSE 0 END AS bit
        |         FROM win a JOIN win b
        |           ON a.doc_id = b.doc_id AND b.w = a.w + 1
        |         WHERE a.w < 64),
        |d AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |        sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hd
        |      FROM bits x JOIN bits y ON x.i = y.i AND x.doc_id < y.doc_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(hd AS BIGINT) AS hamming
        |FROM d WHERE hd <= 7 ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Dedup.hammingDupPairs(
        graft.multimodal.Multimodal.audioFingerprint64(
          graft.multimodal.Multimodal.syntheticNearDupWavs(s, d)),
        "media_id", "afp", maxDist = 7, nBands = 8)
        .orderBy("id_a", "id_b")),

    // image NEAR-DUP dedup (round 9): dHash over REAL decoded pixels →
    // banded Hamming LSH → exact popcount verify. Fixtures group in
    // fours sharing a 9×8 cell pattern with one brightened cell per
    // variant (each grid cell a uniform 2×2 block at 18×16, so cell
    // means equal the generating values). maxDist=6 < nBands=8 makes
    // banding EXACT (pigeonhole recall), so the oracle's all-pairs
    // replay of the cell function produces the identical pair set —
    // never materialized by the operator itself, which only shuffles
    // (band, bucket) tuples.
    Q("pl_image_dedup",
      s"""WITH $imageDedupCtes
        |SELECT id_a, id_b, CAST(d AS BIGINT) AS hamming
        |FROM dists WHERE d <= 6 ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Dedup.hammingDupPairs(
        graft.multimodal.Multimodal.dhash64(
          graft.multimodal.Multimodal.syntheticNearDupPngs(s, d))
          .toDF(), "media_id", "dhash", maxDist = 6, nBands = 8)
        .orderBy("id_a", "id_b")),

    // incremental IMAGE near-dup dedup (round 10): new-batch images
    // dropped when their dHash lands within maxDist of ANY corpus hash,
    // probing the corpus's banded Hamming index — the image-dedup-at-
    // ingest pass, completing the incremental matrix for the perceptual-
    // hash modalities. Corpus = groups 0-29 complete plus the EVEN
    // members of groups 30-39; batch = the ODD members of groups 30-59
    // (disjoint ids): groups 30-39's odd members near-dup their even
    // corpus mates and drop, groups 40-59's survive. maxDist 6 < 8 bands
    // keeps the probe pigeonhole-exact, so the oracle replays all cross
    // pairs from the shared dHash CTEs.
    Q("pl_incr_image",
      s"""WITH $imageDedupCtes,
        |idrops AS (
        |  SELECT CASE WHEN id_a >= 120 AND id_a % 2 = 1 THEN id_a
        |              ELSE id_b END AS bid
        |  FROM dists WHERE d <= 6 AND (
        |    ((id_a >= 120 AND id_a % 2 = 1) AND
        |     (id_b < 120 OR (id_b < 160 AND id_b % 2 = 0))) OR
        |    ((id_b >= 120 AND id_b % 2 = 1) AND
        |     (id_a < 120 OR (id_a < 160 AND id_a % 2 = 0)))))
        |SELECT doc_id AS media_id FROM ids
        |WHERE doc_id >= 120 AND doc_id % 2 = 1
        |  AND doc_id NOT IN (SELECT bid FROM idrops)
        |ORDER BY media_id""".stripMargin)(
      (s, d) => {
        val hashes = graft.multimodal.Multimodal.dhash64(
          graft.multimodal.Multimodal.syntheticNearDupPngs(s, d))
          .toDF().localCheckpoint()
        Dedup.incrementalHammingDedup(
          hashes.filter(col("media_id") >= 120 && col("media_id") % 2 === 1),
          hashes.filter(col("media_id") < 120 ||
            (col("media_id") < 160 && col("media_id") % 2 === 0)),
          "media_id", "dhash", maxDist = 6, nBands = 8)
          .select("media_id").orderBy("media_id")
      }),

    // image near-dup CLUSTERS (round 9): the full multimodal dedup
    // composition a curation pipeline actually runs — decode → dHash →
    // banded pairs → connected components → one canonical keeper (the
    // min id) per near-dup cluster. Oracle: the shared dHash replay plus
    // a recursive-CTE closure over the pair graph.
    Q("pl_image_clusters",
      s"""WITH RECURSIVE $imageDedupCtes,
        |p AS (SELECT id_a, id_b FROM dists WHERE d <= 6),
        |und AS (SELECT id_a AS a, id_b AS b FROM p
        |        UNION SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT doc_id AS a, doc_id AS b FROM ids
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
        |SELECT a AS media_id, CAST(min(b) AS BIGINT) AS cluster_id,
        |       a = min(b) AS is_keeper
        |FROM reach GROUP BY a ORDER BY a""".stripMargin)(
      (s, d) => {
        val hashes = graft.multimodal.Multimodal.dhash64(
          graft.multimodal.Multimodal.syntheticNearDupPngs(s, d))
          .toDF().localCheckpoint()
        val pairs = Dedup.hammingDupPairs(
          hashes, "media_id", "dhash", maxDist = 6, nBands = 8)
        graft.functions.Graph.connectedComponents(
          hashes.select(col("media_id").as("id")),
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
          .select(col("id").as("media_id"), col("cluster_id"),
            (col("id") === col("cluster_id")).as("is_keeper"))
          .orderBy("media_id")
      }),

    // frame-level VIDEO near-dup dedup (round 10): structural frame split
    // → per-frame dHash → per-bit majority pool into one 64-bit clip
    // fingerprint → banded Hamming LSH pairs. Fixtures: clip groups of 4
    // sharing per-frame cell patterns, variants brighten one cell of one
    // frame. Lossless PNG frames + integer-only pooling ⇒ the oracle
    // replays the cell function, per-frame bits, and the majority pool
    // exactly; maxDist 6 < 8 bands keeps banding pigeonhole-exact, so the
    // all-pairs replay equals the banded operator's answer.
    Q("pl_video_dedup",
      s"""WITH $videoDedupCtes
        |SELECT id_a, id_b, CAST(d AS BIGINT) AS hamming
        |FROM vdists WHERE d <= 6 ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Dedup.hammingDupPairs(
        graft.multimodal.Multimodal.videoFingerprint64(
          graft.multimodal.Multimodal.syntheticNearDupFrameVideos(s, d))
          .toDF(), "media_id", "vhash", maxDist = 6, nBands = 8)
        .orderBy("id_a", "id_b")),

    // video near-dup CLUSTERS (round 10): the full video-dedup
    // composition — fingerprint → banded pairs → connected components →
    // one canonical keeper per clip cluster (the pl_image_clusters
    // pattern at the video level). Oracle: the shared fingerprint replay
    // plus a recursive-CTE closure over the pair graph.
    Q("pl_video_clusters",
      s"""WITH RECURSIVE $videoDedupCtes,
        |vp AS (SELECT id_a, id_b FROM vdists WHERE d <= 6),
        |vund AS (SELECT id_a AS a, id_b AS b FROM vp
        |         UNION SELECT id_b, id_a FROM vp),
        |vreach(a, b) AS (
        |  SELECT doc_id AS a, doc_id AS b FROM vids
        |  UNION
        |  SELECT r.a, u.b FROM vreach r JOIN vund u ON r.b = u.a)
        |SELECT a AS media_id, CAST(min(b) AS BIGINT) AS cluster_id,
        |       a = min(b) AS is_keeper
        |FROM vreach GROUP BY a ORDER BY a""".stripMargin)(
      (s, d) => {
        val hashes = graft.multimodal.Multimodal.videoFingerprint64(
          graft.multimodal.Multimodal.syntheticNearDupFrameVideos(s, d))
          .toDF().localCheckpoint()
        val pairs = Dedup.hammingDupPairs(
          hashes, "media_id", "vhash", maxDist = 6, nBands = 8)
        graft.functions.Graph.connectedComponents(
          hashes.select(col("media_id").as("id")),
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
          .select(col("id").as("media_id"), col("cluster_id"),
            (col("id") === col("cluster_id")).as("is_keeper"))
          .orderBy("media_id")
      })
  ,

    // ───── embedding quantization (round-6) ─────
    // int8 scalar quantization of the embedding column — the vector-
    // compression pass a 100 TB embedding store runs before ANN
    // serving (4× smaller, map-side only, no shuffle). Per row:
    // scale = max|x|, q_i = round(x_i/scale·127) ∈ [-127,127]. The
    // gate compares INTEGER-EXACT outputs only (quantized codes and
    // micro-unit reconstruction errors): both engines do the identical
    // IEEE double ops in the same order, so the rounded ints match
    // bit-for-bit where a float hash never would.
    Q("pl_embed_quantize",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |        list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |          ELSE CAST(round(x / scale * 127) AS BIGINT) END) AS qs
        |      FROM s),
        |r AS (SELECT vec_id, len(v) AS n,
        |        list_sum(qs) AS qsum,
        |        list_max(qs) AS qmax,
        |        list_sum(list_transform(range(1, len(v) + 1), i ->
        |          abs(CAST(round(v[i] * 1000000) AS BIGINT) -
        |              CAST(round(qs[i] * scale / 127 * 1000000) AS BIGINT))))
        |          AS esum
        |      FROM q)
        |SELECT vec_id, CAST(n AS BIGINT) AS n, CAST(qsum AS BIGINT) AS qsum,
        |       CAST(qmax AS BIGINT) AS qmax, CAST(esum AS BIGINT) AS esum
        |FROM r ORDER BY vec_id""".stripMargin)(
      (s, d) => {
        val emb = graft.Tables.load(s, d, "embeddings")
        val v = transform(col("embedding"), x => x.cast("double"))
        val scale = array_max(transform(v, x => abs(x)))
        val qs = transform(v, x =>
          when(scale === 0.0, 0L)
            .otherwise(round(x / scale * 127).cast("long")))
        // materialization barrier: without it CollapseProject inlines the
        // nested HOF chain (v → scale → qs) into every downstream
        // reference, and the exploded expression tree spends seconds in
        // codegen compilation alone (same lesson as the minhash
        // signature barrier)
        emb.select(col("vec_id"), v.as("v"), scale.as("scale"), qs.as("qs"))
          .localCheckpoint()
          .select(col("vec_id"),
            size(col("v")).cast("long").as("n"),
            aggregate(col("qs"), lit(0L), (a, x) => a + x).as("qsum"),
            array_max(col("qs")).as("qmax"),
            aggregate(
              zip_with(col("v"), col("qs"), (x, q) =>
                abs(round(x * 1000000).cast("long") -
                  round(q * col("scale") / 127 * 1000000).cast("long"))),
              lit(0L), (a, x) => a + x).as("esum"))
          .orderBy("vec_id")
      }),

    // distributed BPE vocabulary training (Sennrich et al. 2016) — 6
    // merges learned from the documents word-frequency dictionary; the
    // oracle unrolls the same 6 iterations (pair count → 1-row best →
    // positional leftmost-greedy merge replay) in DuckDB window SQL, so
    // the merge TABLE itself — pairs, merged symbols, and weighted
    // counts — is compared exactly.
    Q("pl_bpe_train", bpeOracleSql(6))(
      (s, d) => {
        bpeGateTrain(s, d)._1.orderBy("iteration")
      }),

    // the encode half of BPE: the trained tokenization of every vocabulary
    // word (final symbol table after the 6 learned merges), compared
    // word-by-word — proves the merge APPLICATION, not just the learned
    // table, agrees between engines.
    Q("pl_bpe_encode", bpeEncodeOracleSql(6))(
      (s, d) => {
        Bpe.encodeTable(bpeGateTrain(s, d)._2).orderBy("word")
      })
  )
}
