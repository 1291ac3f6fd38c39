#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload gates --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first run builds the engine and
the harness with sbt (about a minute); later runs reuse the build while the
sources are unchanged. The harness JVM writes its figures to a work
directory; this script adds the DuckDB output checks, prints every metric
with its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of the traced pass. The exit code is nonzero when an output
check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402

WORKLOADS = ["gates", "serve_mixed", "wide_logs"]

# Spark on JDK 17 needs these outside spark-submit (as the root build sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; if the timeout passes or this
    script is stopped, kill the whole group and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s", 1)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp(root):
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env(root):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, build_dir):
    """Compile engine + harness unless the last build was of the same
    sources; return the classpath."""
    stamp = source_stamp(root)
    # one record for the one set of compiled classes: the stamp it was built
    # from, then its classpath
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            built, _, cp = f.read().partition("\n")
        if built == stamp:
            return cp.strip()
        os.remove(cp_file)
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        code = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(root), stdout=out,
            stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"build failed, see {log}")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if not cps:
        fail(f"build printed no classpath, see {log}")
    with open(cp_file, "w") as f:
        f.write(f"{stamp}\n{cps[-1]}")
    return cps[-1]


def run_jvm(root, cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data"), "--work", work])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        return run_child(cmd, timeout, cwd=root, stdout=log,
                         stderr=subprocess.STDOUT)


def fmt(v):
    if v is None:
        return "null"
    if abs(v) >= 1e6 or v == int(v):
        return f"{v:.0f}" if abs(v) < 1e15 else repr(v)
    return f"{v:.4f}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a stopped run still stops its children (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.path.dirname(HERE)
    for need in ("build.sbt", "src/main/scala/graft", "tools/check_correctness.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")

    build_dir = os.path.join(root, ".bench_build")
    cp = build(root, build_dir)
    work = os.path.join(build_dir, "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    left = RUN_TIMEOUT_S - (time.time() - t_start)
    code = run_jvm(root, cp, args, work, max(left, 30))
    res_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {code}", 1)
    with open(res_path) as f:
        res = json.load(f)

    check = checks.run(args.workload, root, HERE, work, res)
    failed = res["failed"] + check["failed"]
    attempted = res["attempted"] + check["attempted"]
    e2e = res["end_to_end"]
    layers = dict(res["per_layer"], **check["metrics"])
    e2e["error_ratio"] = {"value": failed / max(attempted, 1),
                          "unit": "ratio", "n": attempted}

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} "
          f"attempted={attempted} failed={failed}")
    print(f"context_s={fmt(res['context_s'])} prepare_s={fmt(res['prepare_s'])}")
    for title, ms in (("end-to-end", e2e), ("per-layer", layers)):
        print(f"-- {title}")
        for name, m in ms.items():
            n = f" (n={m['n']})" if m.get("n") else ""
            print(f"{name:34s} {fmt(m['value']):>16s} {m['unit']}{n}")
    for e in res["errors"] + check["errors"]:
        print(f"error: {e}")

    if args.trace:
        keep = os.path.join(build_dir, "last-trace", args.workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for name in ("trace.json", "profile.txt", "result.json"):
            src = os.path.join(work, name)
            if os.path.exists(src):
                shutil.copy(src, keep)
        print(f"trace written to {os.path.relpath(keep, root)}")
    shutil.rmtree(work, ignore_errors=True)

    # the final line carries exactly the metrics BENCHMARK.json declares
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    names = [m["name"] for m in declared]
    source = layers if args.trace else e2e
    missing = [n for n in names if n not in source]
    if missing:
        fail(f"metrics not produced: {missing}", 1)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": source[n]["value"],
                            "unit": source[n]["unit"]} for n in names}}
    print(json.dumps(line))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
