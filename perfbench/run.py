#!/usr/bin/env python3
"""graft's benchmark: one seeded workload against graft's public APIs.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload serve|ingest|curate --seed N \
      --seconds S --trace 0|1

BENCHMARK.json drives `serve` and `ingest`. `curate` (the batch curation
pass: TextOps, Dedup, Sampling, VectorOps) runs the same way by hand and
prints every metric the program reports; at 75-90 s a run on a 4-core box
it does not fit the time budget of the driven runs.

Builds graft and the harness from source (perfbench/build.py), runs the
workload in one JVM (Spark local[nproc], 2 GB heap), checks every output,
and prints each metric as `name value unit`, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.

Checks that need an engine independent of graft run here, in DuckDB:
the JVM writes each checked output as parquet next to the oracle SQL
graft's gates already carry (SparkEntry.oracleSql), and this script
compares the two as multisets. Spans of a traced run are written to
<build dir>/traces/<workload>-<seed>.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

LIMIT_S = 170


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def unit_of(name):
    """The unit of a metric BENCHMARK.json does not list, from its name."""
    if name in ("ops_per_s", "rows_per_s"):
        return {"ops_per_s": "1/s", "rows_per_s": "rows/s"}[name]
    for suffix, unit in (("_us", "us"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("bytes_per_op", "bytes"), ("_frac", "ratio"), ("_ratio", "ratio"),
                         ("recall", "ratio"), ("_at_10", "ratio"), ("_p50", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def multiset_diff(con, actual, oracle, cols):
    """Rows in one side and not the other, counting duplicates."""
    c = ", ".join(cols)
    q = (f"SELECT count(*) FROM ((SELECT {c} FROM ({actual}) EXCEPT ALL SELECT {c} FROM ({oracle})) "
         f"UNION ALL (SELECT {c} FROM ({oracle}) EXCEPT ALL SELECT {c} FROM ({actual})))")
    return con.execute(q).fetchone()[0]


def run_checks(path):
    """Each check: views to create, the oracle SQL, the parquet the program
    wrote, and the columns to compare. Returns the failed checks' names."""
    import duckdb
    spec = json.load(open(path))
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for name, p in spec["views"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/**/*.parquet')")
    failed = []
    # the n-gram Jaccard pair oracle is a quadratic self-join that several
    # oracles embed verbatim; evaluate it once
    shared = spec.get("shared", {})
    for name, sql in shared.items():
        con.execute(f"CREATE TABLE {name} AS {sql}")
    for c in spec["checks"]:
        actual = f"SELECT * FROM read_parquet('{c['actual']}/**/*.parquet')"
        oracle = c["oracle"]
        for name, sql in shared.items():
            oracle = oracle.replace(sql, f"SELECT * FROM {name}")
        try:
            diff = multiset_diff(con, actual, oracle, c["columns"])
        except Exception as e:  # a broken oracle or output is a failed check
            diff = f"error: {e}"
        if diff != 0:
            failed.append(c["name"])
            log(f"check {c['name']} failed: {diff} differing rows")
    for c in spec.get("topk", []):
        # exact cosine top-k of each probe among the other vectors, ties by id
        exact = (f"SELECT probe_id, vec_id FROM (SELECT p.vec_id AS probe_id, e.vec_id, "
                 f"row_number() OVER (PARTITION BY p.vec_id ORDER BY "
                 f"list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) DESC, "
                 f"e.vec_id) AS rk "
                 f"FROM embeddings p, embeddings e "
                 f"WHERE p.vec_id IN ({c['probes']}) AND e.vec_id <> p.vec_id) "
                 f"WHERE rk <= {c['k']}")
        brute = f"SELECT probe_id, vec_id FROM read_parquet('{c['brute']}/**/*.parquet')"
        if multiset_diff(con, brute, exact, ["probe_id", "vec_id"]) != 0:
            failed.append("ann_brute_exact")
            log("check ann_brute_exact failed: brute-force top-k differs from exact cosine")
        hits = con.execute(
            f"SELECT probe_id, count(*) FROM (SELECT probe_id, vec_id FROM "
            f"read_parquet('{c['approx']}/**/*.parquet') INTERSECT ALL {exact}) GROUP BY 1").fetchall()
        got = {p: n for p, n in hits}
        probes = [int(x) for x in c["probes"].split(",")]
        low = [p for p in probes if got.get(p, 0) < c["floor"]]
        if low:
            failed.append("ann_recall_floor")
            log(f"check ann_recall_floor failed: probes {low} under {c['floor']}/{c['k']}")
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench = json.load(open("BENCHMARK.json"))
    driven = a.workload in [w["name"] for w in bench["workloads"]]
    if not driven and a.workload != "curate":
        log(f"unknown workload {a.workload}")
        return 2

    classpath = build.build()
    # a run that built may take longer; the workload itself gets LIMIT_S
    started = time.time()
    base = build.build_dir()
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    # a stale or unusable archive only costs its speed-up: the JVM then
    # loads every class itself
    cds = build.cds_archive(classpath)
    cmd = build.java_cmd(
        classpath, work, [f"-XX:SharedArchiveFile={cds}"] if cds else [],
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--work", work, "--result", result,
         "--trace-out", os.path.join(base, "traces", f"{a.workload}-{a.seed}.jsonl"),
         "--cores", str(cores)])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=build.java_env(work),
                            start_new_session=True)

    def stop(signum, frame):  # never leave the JVM behind
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=max(10, LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("workload timed out")
        shutil.rmtree(work, ignore_errors=True)
        return 3
    try:
        if code != 0 or not os.path.exists(result):
            log(f"workload exited with {code}")
            return 4
        r = json.load(open(result))
        checks = os.path.join(work, "checks.json")
        bad = run_checks(checks) if os.path.exists(checks) else []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"input_digest {r['input_digest']} setup reps {r['setup_reps_s']}")
    attempted, failed = r["attempted"], r["failed"]
    if bad:
        # every operation's output equals the checked one (the JVM compared
        # them), so a failed oracle check fails them all
        failed = attempted
    if driven:
        names = bench["per_layer" if a.trace else "end_to_end"]
    else:
        names = [{"name": n, "unit": unit_of(n)} for n in sorted(r["metrics"])]
    metrics = {}
    for m in names:
        v = r["metrics"].get(m["name"])
        if v is None:
            log(f"metric {m['name']} missing")
            return 5
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} {v} {m['unit']}")
    out = {"correct": failed == 0 and not bad, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
