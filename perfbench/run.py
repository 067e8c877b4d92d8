#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from source (perfbench/build.py), runs
one JVM with `local[nproc]` on the corpus in perfbench/data, checks every
output of the workload against perfbench/fingerprints.json, prints the
figures by name, and prints as its last line one JSON object with keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.

`--record` re-records the workload's fingerprints and confirms each one
against the DuckDB oracle SQL of the query (`tools/check.py`).
Exits non-zero on a failed query, a wrong or missing output, or a traced
pass whose spans leave more than the bound unattributed.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("star_etl", "dedup_graph")
DATA = os.path.join(HERE, "data")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# Environment switches that change what the engine does; a run under any
# of them would not measure the shipped engine.
ENGINE_SWITCHES = ("GRAFT_BENCH_CONF", "GRAFT_SCHEMA_MEMO",
                   "GRAFT_STREAM_PARTS", "GRAFT_STREAM_PROFILE")
JVM_TIMEOUT_S = 165
# A traced pass fails the accounting check when its stage and query spans
# leave more than this much of the pass wall uncovered.
UNATTRIBUTED_BOUND_S = 0.05
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def shm_leftovers(run_dir, before):
    """Stream staging directories the engine left in /dev/shm for this run.

    The engine stages each stream source as a directory of symlinks on
    /dev/shm when that is writable and keeps it for the JVM's lifetime;
    only the ones linking into this run's own corpus copy are returned."""
    shm = "/dev/shm"
    if not os.path.isdir(shm):
        return []
    out = []
    for n in sorted(set(os.listdir(shm)) - before):
        d = os.path.join(shm, n)
        if n.startswith("graft_stream_") and os.path.isdir(d) and all(
                os.path.islink(os.path.join(d, f)) and
                os.readlink(os.path.join(d, f)).startswith(run_dir)
                for f in os.listdir(d)):
            out.append(d)
    return out


def run_jvm(args, run_dir, oracle):
    os.makedirs(os.path.join(run_dir, "tmp"))
    data = os.path.join(run_dir, "data")
    shutil.copytree(DATA, data)
    shm_before = set(os.listdir("/dev/shm")) if os.path.isdir("/dev/shm") \
        else set()
    # A fixed heap, pinned like build.sbt's, but not its 48g default, which
    # is more memory than a small box has: at 3g no collection falls inside
    # a traced pass of either workload (jvm.gc_s = 0), so a larger heap
    # cannot shorten a pass.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", run_dir, "--cpus", str(cpus()),
            "--oracle", "1" if oracle else "0"]
    t0 = time.monotonic()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=run_dir, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    for d in shm_leftovers(run_dir, shm_before):
        shutil.rmtree(d, ignore_errors=True)
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        fail(f"JVM exited {rc}; log tail:\n{tail}")
    res = json.load(open(result))
    res["jvm_wall_s"] = time.monotonic() - t0
    return res


def read_output(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def fingerprint(path):
    """Row count and tools/check.py's hash of one parquet output."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    df = read_output(path)
    if df is None:
        return {"rows": 0, "hash": None}
    _, rows, h = canon(df)
    return {"rows": len(rows), "hash": h}


def check_outputs(res, run_dir):
    """Compare each output with its recorded fingerprint. Returns
    (checked, wrong names, missing names, vacuous names)."""
    want = json.load(open(FINGERPRINTS))["queries"]
    wrote = set(res["outputs"])
    wrong, missing, vacuous = [], [], []
    for name in res["names"]:
        if name not in want:
            missing.append(name)
            continue
        if name not in wrote:
            missing.append(name)
            continue
        got = fingerprint(os.path.join(run_dir, "outputs", name))
        exp = want[name]
        if got["rows"] != exp["rows"] or (
                got["hash"] is not None and got["hash"] != exp["hash"]):
            wrong.append(name)
        elif got["rows"] == 0:
            vacuous.append(name)
    return len(res["names"]), wrong, missing, vacuous


def record(res, run_dir):
    """Write the workload's fingerprints and confirm them against DuckDB."""
    out = os.path.join(run_dir, "outputs")
    fps = {n: fingerprint(os.path.join(out, n)) for n in sorted(res["outputs"])}
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        os.path.join(run_dir, "data"), out],
                       stdout=subprocess.PIPE, text=True)
    sys.stderr.write(r.stdout)
    oracle = {}
    for line in r.stdout.splitlines():
        line = line.strip()
        if line[:1] in ("✓", "✗") or "NO-ORACLE" in line:
            name = line.lstrip("✓✗ ").split(":")[0]
            oracle[name] = ("match" if line.startswith("✓") else
                            "no-oracle" if "NO-ORACLE" in line else
                            "error" if "ORACLE SQL ERROR" in line else
                            "mismatch")
    doc = json.load(open(FINGERPRINTS)) if os.path.exists(FINGERPRINTS) \
        else {"queries": {}, "oracle": {}}
    doc["queries"].update(fps)
    doc["oracle"].update(oracle)
    with open(FINGERPRINTS, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


def spec():
    return json.load(open(SPEC))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    on = [k for k in ENGINE_SWITCHES if k in os.environ]
    if on:
        fail(f"refusing to run with engine switches set: {', '.join(on)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from a "
             "checkout of the repository root")
    if not os.path.isdir(DATA):
        fail(f"input corpus {DATA} not found")
    t_start = time.monotonic()
    build.build()

    run_dir = os.path.join(HERE, ".runs",
                           f"{args.workload}-{args.seed}-{args.trace}-"
                           f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(args, run_dir, oracle=args.record)
        if args.record:
            record(res, run_dir)
        t_check = time.monotonic()
        checked, wrong, missing, vacuous = check_outputs(res, run_dir)
        res["check_s"] = time.monotonic() - t_check
        res["run_s"] = time.monotonic() - t_start
    finally:
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, run_dir + ".spans.jsonl")
        shutil.rmtree(run_dir, ignore_errors=True)
    report(args, res, checked, wrong, missing, vacuous)


def report(args, res, checked, wrong, missing, vacuous):
    s = spec()
    attempted = res["attempted"] + checked
    failed = res["failed"] + len(wrong) + len(missing)
    e2e = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(res["pass_s"]),
        "query_p50_s": res["query_p50_s"],
        "retained_heap_mb": res["retained_heap_mb"],
    }
    print(f"workload={args.workload} seed={args.seed} cpus={res['cpus']} "
          f"queries={res['queries']} stages={res['stages']} "
          f"timed_passes={len(res['pass_s'])} "
          f"query_samples={len(res['latencies_s'])}")
    print("  passes_s = " + " ".join(f"{p:.3f}" for p in res["pass_s"]))
    print(f"  jvm: session {res['session_s']:.1f} s, warm passes "
          + " ".join(f"{p:.1f}" for p in res["warm_pass_s"])
          + f" s, timed end {res['timed_end_s']:.1f} s, outputs end "
          f"{res['outputs_end_s']:.1f} s, exit {res['jvm_wall_s']:.1f} s; "
          f"output check {res['check_s']:.1f} s; run {res['run_s']:.1f} s")
    medians = {**res["stage_median_s"], **res["query_median_s"]}
    print("  median_s: " + " ".join(f"{k}={v:.3f}" for k, v in
                                    medians.items()))
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    for k, v in e2e.items():
        print(f"  {k} = {v:.4f} {units[k]}")
    n, lat = len(res["latencies_s"]), sorted(res["latencies_s"])
    if n > 20:
        # the highest percentile with ten samples beyond it; not a declared
        # metric, because a run holds too few executions for a fixed one
        print(f"  query_p{100 * (n - 10) // n}_s = {lat[n - 11]:.4f} s "
              f"(10 of {n} executions beyond it)")
    print(f"  failed_frac = {failed / attempted:.4f} ratio "
          f"({failed} of {attempted})")
    if res["failed_queries"]:
        print(f"  failed queries: {', '.join(res['failed_queries'])}")
    if wrong or missing:
        print(f"  wrong outputs: {wrong}  missing outputs: {missing}")
    if vacuous:
        print(f"  vacuous (0-row) outputs: {', '.join(vacuous)}")
    correct = failed == 0
    if args.trace:
        layers = res["layers"]
        print("  unattributed_s per traced pass = " +
              " ".join(f"{u:.4f}" for u in res["unattributed_s"]))
        worst = max(res["unattributed_s"])
        if worst > UNATTRIBUTED_BOUND_S:
            print(f"  accounting: {worst:.4f} s of a traced pass is outside "
                  f"every stage and query span (bound "
                  f"{UNATTRIBUTED_BOUND_S} s)")
            correct = False
        named = [m["name"] for m in s["per_layer"]]
        for k in named + [k for k in layers if k not in named]:
            print(f"  {k} = {layers[k]:.4f} {units.get(k, '')}".rstrip())
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in s["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in s["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
