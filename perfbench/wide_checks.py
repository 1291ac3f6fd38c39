"""DuckDB checks of one wide_logs run: bench-owned SQL over the generated
parquet, compared with the results the harness wrote."""
import json
import os

import duckdb

# operation -> DuckDB SQL whose rows must equal the engine's exactly
SQL = {
    "filter_count": "SELECT count(*) FROM logs WHERE level = 'error' AND value > 2500.0",
    "dcount": "SELECT event_type, count(DISTINCT user_id) FROM logs GROUP BY 1 ORDER BY 1",
    "top": ("SELECT event_id, value FROM logs WHERE level <> 'info' "
            "ORDER BY value DESC, event_id ASC LIMIT 20"),
    "join_dim": ("SELECT region, count(*) FROM logs JOIN users USING (user_id) "
                 "WHERE level = 'error' GROUP BY 1 ORDER BY 1"),
    "row_number": ("SELECT event_id, rn FROM (SELECT event_id, row_number() OVER "
                   "(ORDER BY ts, event_id) AS rn FROM logs WHERE level = 'fatal') "
                   "WHERE rn % 25 = 1 ORDER BY rn"),
    "by_day": ("SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)), level, count(*) FROM logs "
               "GROUP BY 1, 2 ORDER BY 1, 2"),
    "exact_dups": ("SELECT count(*), sum(n) FROM (SELECT count(*) AS n FROM docs "
                   "GROUP BY md5(text) HAVING count(*) > 1)"),
    "quality": ("SELECT sum(length(text)), sum(len(string_split(text, ' '))) FROM docs"),
}
# double sums and averages: the engine's summation order depends on how the
# input is partitioned, so the last digits may differ from DuckDB's
DOUBLE_SQL = ("SELECT event_type, sum(value), sum(value) / count(*), count(*) "
              "FROM logs GROUP BY 1 ORDER BY 1")
PACK_BUDGET = 2048
MINHASH_DOCS = 6000


def run(work, res):
    with open(os.path.join(work, "wide_results.json")) as f:
        got = json.load(f)
    data = got["data_dir"]
    con = duckdb.connect()
    for t in ("logs", "docs", "users"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}/*.parquet'")
    errors, attempted, double_mismatch = [], 0, 0

    def compare(name, want, have):
        nonlocal attempted
        attempted += 1
        if want != have:
            errors.append(f"{name}: engine {str(have)[:150]} != duckdb {str(want)[:150]}")

    for name, sql in SQL.items():
        want = [list(r) for r in con.execute(sql).fetchall()]
        compare(name, want, got[name])

    # double sum/avg: exact columns must match; doubles may differ only in
    # the last digits, which is counted, not failed
    want = [list(r) for r in con.execute(DOUBLE_SQL).fetchall()]
    have = got["double_sum"]
    attempted += 1
    if [[r[0], r[3]] for r in want] != [[r[0], r[3]] for r in have]:
        errors.append(f"double_sum keys/counts differ: {have} vs {want}")
    else:
        for w, h in zip(want, have):
            for a, b in ((w[1], h[1]), (w[2], h[2])):
                if a != b:
                    if abs(a - b) <= 1e-9 * max(abs(a), 1.0):
                        double_mismatch += 1
                    else:
                        errors.append(f"double_sum {w[0]}: {b} vs {a}")

    # packing: every document placed once, offsets cover all tokens
    n_docs, total_tokens = con.execute(
        "SELECT count(*), sum(len(string_split(text, ' '))) FROM docs").fetchone()
    compare("packing", [[n_docs, total_tokens, (total_tokens - 1) // PACK_BUDGET]],
            got["packing"])

    # minhash: every exact-duplicate pair among the first documents is found
    attempted += 1
    missing = con.execute(f"""
        SELECT count(*) FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM docs a JOIN docs b
            ON a.text = b.text AND a.doc_id < b.doc_id
          WHERE a.doc_id < {MINHASH_DOCS} AND b.doc_id < {MINHASH_DOCS}
          EXCEPT SELECT least(id_a, id_b), greatest(id_a, id_b)
            FROM '{got['pairs_dir']}/*.parquet')
    """).fetchone()[0]
    if missing:
        errors.append(f"minhash_pairs: {missing} exact-duplicate pairs not found")

    # sinks: the append sink holds the filtered rows, the upsert sink one row
    # per key
    sink = got["sink_dir"]
    attempted += 2
    n_err = con.execute("SELECT count(*) FROM logs WHERE level = 'error'").fetchone()[0]
    n_sink = con.execute(f"SELECT count(*) FROM '{sink}/errors/**/*.parquet'").fetchone()[0]
    if n_sink != n_err:
        errors.append(f"write_append: sink holds {n_sink} rows, expected {n_err}")
    n_keys = con.execute(
        "SELECT count(DISTINCT user_id) FROM logs WHERE level <> 'info'").fetchone()[0]
    if int(got["user_stats_rows"]) != n_keys:
        errors.append(f"write_upsert: {got['user_stats_rows']} rows, expected {n_keys}")

    return {"attempted": attempted, "failed": len(errors), "errors": errors,
            "metrics": {"check.double_order_mismatch":
                        {"value": double_mismatch, "unit": "count", "n": 0}}}
