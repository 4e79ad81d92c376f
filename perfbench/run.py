#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation, in a fresh JVM.

    python3 perfbench/run.py --workload crawl-toy --seed 42 --seconds 20 --trace 0

Run from the repository root. The first invocation builds the program and
the benchmark (see build.py) into $CARGO_TARGET_DIR (default
.bench_build). The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1`` (the
traced run also writes a span file under <build dir>/work/trace/).

``--workload all`` runs every workload in turn and ends with one combined
line whose metric names are prefixed with the workload. ``query-sf0.1``
needs ``--data-dir`` (or $SPARK_GRAFT_SF_DIR) pointing at the sf0.1
parquet tables; it is not part of BENCHMARK.json.
"""
import argparse
import importlib.util
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["crawl-toy", "crawl-deep", "crawl-wide", "query-sf0.1"]
# each workload's JVM is stopped after this many seconds
RUN_LIMIT_S = 175
JVM_HEAP = "3g"
FIXTURE_BUILT = 3  # exit code of a JVM that only built a fixture (Main.FixtureBuilt)
# Spark on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def run_jvm(workload, args, classes, build_id, build_dir, deadline):
    """Runs one workload in its own JVM; returns its result dict."""
    work = os.path.join(build_dir, "work")
    tmp = os.path.join(build_dir, "tmp")
    for d in (work, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(build_dir, "results", f"{workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    # no hsperfdata file under the system temp dir; Spark's local dirs
    # and the JVM's temp dir stay inside the build dir
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main", "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--out", out, "--build-id", build_id]
    if workload == "query-sf0.1":
        if not args.data_dir:
            sys.exit("query-sf0.1 needs --data-dir or $SPARK_GRAFT_SF_DIR")
        cmd += ["--data-dir", os.path.abspath(args.data_dir)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    rc = FIXTURE_BUILT
    while rc == FIXTURE_BUILT:  # a JVM that built a fixture exits; measure in a fresh one
        proc = subprocess.Popen(cmd + ["--launched-ns", str(time.time_ns())],
                                env=env, stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"{workload}: JVM did not finish in time")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"{workload}: JVM exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    if workload == "query-sf0.1":
        check_queries(res, work, args.data_dir)
    return res


def check_queries(res, work, data_dir):
    """Compares each query's output with DuckDB running its oracleSql (and
    the python MinHash oracle for q23), using tools/parity_check.py's
    compare. A query that fails its check fails every execution of it."""
    spec = importlib.util.spec_from_file_location(
        "parity_check", os.path.join(os.getcwd(), "tools", "parity_check.py"))
    pc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pc)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = os.path.join(work, "query_out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    names = sorted(d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d)))
    runs_per_query = res["attempted"] // max(1, len(names))
    for name in names:
        got = pd.read_parquet(os.path.join(out, name))
        if name in sqls:
            exp = con.sql(sqls[name]).df()
        elif name in pc.PY_ORACLES:
            exp = pc.PY_ORACLES[name](data_dir)
        else:
            res["notes"].append(f"{name}: no oracle")
            continue
        ok = pc.compare(name, got, exp)
        if not ok:
            res["failed"] += runs_per_query
            res["notes"].append(f"{name}: output check failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        os.makedirs(build_dir, exist_ok=True)
        classes, build_id = build.build(root, build_dir)
    except build.BuildFailure as e:
        sys.exit(f"build failed: {e}")

    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    if args.workload == "all" and not args.data_dir:
        workloads = [w for w in workloads if w != "query-sf0.1"]
        print("query-sf0.1 skipped: no --data-dir", file=sys.stderr)
    results = {}
    for w in workloads:
        results[w] = run_jvm(w, args, classes, build_id, build_dir, time.monotonic() + RUN_LIMIT_S)
        for note in results[w]["notes"]:
            print(note)

    if len(results) == 1:
        (res,) = results.values()
        metrics = res["metrics"]
    else:
        metrics = {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}
        for w, r in results.items():
            print(json.dumps({"workload": w, "metrics": r["metrics"]}))
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
