#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <serve|churn> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from
source (perfbench/build.sbt, only when a source changed), runs one JVM on
the chosen workload, completes the output checks (bm25 and embed_knn
answers against the engine's oracle SQL in DuckDB), and prints one JSON
result object as the last line of stdout. Everything the run writes lives
under perfbench/.work and is removed afterwards.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "source.sha256")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# the engine keeps its artifact roots here, keyed by input directory
CACHE_ROOT = "/tmp/graft-index-cache/v2"
JVM_TIMEOUT_S = 170
HISTORY = os.path.join(BENCH, ".work", "history.jsonl")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = ["setup_s", "read_p50_ms", "read_ops_per_s", "ingest_rows_per_s",
              "ingest_bytes_per_input_byte"]
# client-measured metrics reported with the traced run's per-layer ones:
# the tail and the per-op medians (a run has too few requests to bound
# them), and maintenance (serve runs a cycle only when traced)
TRACED_EXTRAS = ["read_p90_ms", "fetch_p50_ms", "ann_p50_ms", "embed_knn_p50_ms",
                 "bm25_p50_ms", "maint_cycle_s", "maint_bytes_per_upserted_byte"]
SPAN_FIELDS = {"wall_ms": "ms", "driver_ms": "ms", "plan_ms": "ms",
               "jobs": "count", "task_ms": "ms", "bytes_read": "bytes",
               "bytes_written": "bytes"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (SRC, os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine + harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def cache_key(path):
    """The engine's artifact-root name for an input directory."""
    return os.path.join(CACHE_ROOT, re.sub(r"[^A-Za-z0-9.]", "_", path))


def run_jvm(args, work):
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
              "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also when this runner is terminated
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {p.returncode}"
                         f" (time limit {JVM_TIMEOUT_S}s)")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def duckdb_checks(res):
    """Run each sampled bm25 / embed_knn request's oracle SQL in DuckDB
    over the run's own parquet inputs; return the mismatches."""
    import duckdb
    con = duckdb.connect()
    docs = os.path.join(res["input_dir"], "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    bad = []
    for c in res["duckdb_checks"]:
        want = [(int(d), float(s)) for d, s in con.execute(c["sql"]).fetchall()]
        got = [(int(d), float(s)) for d, s in c["got"]]
        if got != want:
            bad.append(f"{c['op']}: got {got}, want {want}")
    con.close()
    return bad


def report_tracing_overhead(workload, traced):
    """Tracing overhead: each end-to-end metric of this traced run against
    the median of the untraced runs of the same workload in this checkout."""
    if not os.path.exists(HISTORY):
        return
    with open(HISTORY) as fh:
        runs = [json.loads(line) for line in fh]
    runs = [r["metrics"] for r in runs
            if r["workload"] == workload and set(END_TO_END) <= set(r["metrics"])]
    if not runs:
        return
    parts = []
    for k in END_TO_END:
        base = statistics.median(r[k]["value"] for r in runs)
        parts.append(f"{k} {traced[k]['value'] / base - 1:+.1%}")
    log(f"tracing overhead vs median of {len(runs)} untraced runs: " + ", ".join(parts))


def main():
    # a terminated runner still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(SRC):
        raise SystemExit(f"engine sources not found under {SRC}")
    build()
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = run_jvm(args, work)
        bad = res["mismatches"] + duckdb_checks(res)
    finally:
        for link in glob.glob(cache_key(work) + "*"):
            os.unlink(link)
        shutil.rmtree(work, ignore_errors=True)
    for line in bad[:10]:
        log("MISMATCH " + line)
    for line in res["errors"][:10]:
        log("FAILED " + line)
    log(f"{args.workload} seed={args.seed}: attempted={res['attempted']} "
        f"failed={res['failed']} torn_reads={res['torn_reads']} "
        f"samples={res['samples']} maint_cycles={res['maint_cycles']} "
        f"duckdb_checks={len(res['duckdb_checks'])} mismatches={len(bad)}")
    if args.trace:
        metrics = {}
        for span in res["span_names"]:
            fields = res["spans"].get(span, {})
            for f, unit in SPAN_FIELDS.items():
                metrics[f"{span}.{f}"] = {"value": fields.get(f, 0.0), "unit": unit}
        metrics["torn_reads"] = {"value": res["torn_reads"], "unit": "count"}
        metrics.update({k: res["metrics"][k] for k in TRACED_EXTRAS})
        log(f"client overhead per request (latency - span wall), ms: "
            f"{res['client_overhead_ms']}; unattributed planning "
            f"{res['unattributed_plan_ms']:.0f} ms")
        report_tracing_overhead(args.workload, res["metrics"])
    else:
        metrics = {k: res["metrics"][k] for k in END_TO_END}
        with open(HISTORY, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "metrics": metrics}) + "\n")
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
