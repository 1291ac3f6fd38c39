"""Output checks that run after the harness JVM, outside the timed passes.

gates: every sampled gate's output against its DuckDB oracle, through the
repo's own tools/check_correctness.py (read-only).
wide_logs: the harness's results against bench-owned DuckDB SQL over the
generated parquet.
serve_mixed: checked inside the harness (streamed rows against the batch
result of the same text).
"""
import json
import os
import re
import subprocess
import sys


def _gates(root, here, work, res):
    out_dir = os.path.join(work, "gates_out")
    p = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_correctness.py"),
         out_dir, os.path.join(here, "data", "sf0.1")],
        capture_output=True, text=True, timeout=60)
    fails = [ln for ln in p.stdout.splitlines() if ln.startswith("FAIL")]
    m = re.search(r"(\d+) pass, (\d+) fail, (\d+) weak", p.stdout)
    if not m:
        return {"attempted": 1, "failed": 1, "metrics": {},
                "errors": [f"oracle check did not finish: {p.stderr[-300:]}"]}
    n_pass, n_fail, n_weak = map(int, m.groups())
    return {"attempted": n_pass + n_fail + n_weak, "failed": n_fail,
            "metrics": {"check.oracle_pass": {"value": n_pass, "unit": "count", "n": 0}},
            "errors": [ln[:300] for ln in fails]}


def _none(root, here, work, res):
    return {"attempted": 0, "failed": 0, "metrics": {}, "errors": []}


def run(workload, root, here, work, res):
    if workload == "gates":
        return _gates(root, here, work, res)
    if workload == "wide_logs":
        import wide_checks
        return wide_checks.run(work, res)
    return _none(root, here, work, res)
