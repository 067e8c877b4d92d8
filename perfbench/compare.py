#!/usr/bin/env python3
"""Compare two commits on the benchmark's end-to-end metrics.

    # run N alternating pairs of two checkouts (base = parent, head = change)
    python3 perfbench/compare.py run --base ../parent --head . \
        --pairs 10 --out runs.jsonl [--workloads star_etl,dedup_graph]
    # judge the recorded runs
    python3 perfbench/compare.py report runs.jsonl

`run` executes `perfbench/run.py` of each checkout, pair by pair, with the
same seed on both sides and the side that goes first alternating, and
appends one JSON line per run. `report` applies the sandbox rules to every
(workload, end-to-end metric) pair:

- each side's median and quartiles (statistics.quantiles, n=4);
- pair wins of head over base, ties counting for neither;
- gain: head wins at least 9 of 10 pairs and the medians differ by more
  than base's own quartile spread;
- regression: head's median is worse than base's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: a side's quartile spread, as a share of its median, exceeds
  the bound, unless every head run beats every base run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(checkout, workload, seed, seconds):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") \
        else None
    return r.returncode, last


def cmd_run(a):
    spec = load_spec(a.head)
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    sides = {"base": os.path.abspath(a.base), "head": os.path.abspath(a.head)}
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
            for w in workloads:
                for side in order:
                    rc, res = run_one(sides[side], w, seed, seconds)
                    rec = {"side": side, "workload": w, "pair": i,
                           "seed": seed, "rc": rc, "result": res}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"pair {i} {w} {side}: rc={rc}", file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def judge(base, head, better, bound):
    """Verdict for one (workload, metric) from paired values."""
    sign = 1 if better == "lower" else -1
    b = [v for v, _ in base.values()]
    h = [v for v, _ in head.values()]
    bq1, bmed, bq3 = quartiles(b)
    hq1, hmed, hq3 = quartiles(h)
    pairs = sorted(set(base) & set(head))
    wins = sum(1 for p in pairs if sign * (base[p][0] - head[p][0]) > 0)
    losses = sum(1 for p in pairs if sign * (base[p][0] - head[p][0]) < 0)
    worse = sign * (hmed - bmed) / bmed if bmed else 0.0
    spread = max((bq3 - bq1) / bmed if bmed else 0.0,
                 (hq3 - hq1) / hmed if hmed else 0.0)
    all_better = all(sign * (x - y) > 0 for x in b for y in h)
    if pairs and wins >= 0.9 * len(pairs) and abs(hmed - bmed) > bq3 - bq1:
        verdict = "gain"
    elif worse > bound:
        verdict = "regression"
    elif spread > bound and not all_better:
        verdict = "unresolved"
    else:
        verdict = "within bound"
    return {"base": (bmed, bq1, bq3), "head": (hmed, hq1, hq3),
            "wins": wins, "losses": losses, "pairs": len(pairs),
            "change": -sign * worse, "spread": spread, "verdict": verdict}


def cmd_report(a):
    spec = load_spec(a.spec_root)
    recs = [json.loads(line) for line in open(a.runs) if line.strip()]
    bad = [r for r in recs if r["rc"] != 0 or not r["result"]
           or not r["result"]["correct"]]
    for r in bad:
        print(f"FAILED RUN: {r['side']} {r['workload']} seed={r['seed']} "
              f"rc={r['rc']}")
    good = [r for r in recs if r not in bad]
    workloads = sorted({r["workload"] for r in good})
    print(f"{'workload':14} {'metric':17} {'base med [q1,q3]':>28} "
          f"{'head med [q1,q3]':>28} {'wins':>6} {'better':>8} verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            side = {"base": {}, "head": {}}
            for r in good:
                if r["workload"] == w and m["name"] in r["result"]["metrics"]:
                    side[r["side"]][r["pair"]] = (
                        r["result"]["metrics"][m["name"]]["value"], r["seed"])
            if not side["base"] or not side["head"]:
                continue
            j = judge(side["base"], side["head"], m["better"], m["bound"])
            fmt = lambda t: f"{t[0]:.4f} [{t[1]:.4f},{t[2]:.4f}]"  # noqa
            print(f"{w:14} {m['name']:17} {fmt(j['base']):>28} "
                  f"{fmt(j['head']):>28} {j['wins']:>2}/{j['pairs']:<3} "
                  f"{j['change']:+8.1%} {j['verdict']}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--base", required=True)
    r.add_argument("--head", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=int, default=0)
    r.add_argument("--workloads", default="")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("runs")
    p.add_argument("--spec-root", default=".")
    a = ap.parse_args()
    if a.cmd == "run":
        cmd_run(a)
        return 0
    return cmd_report(a)


if __name__ == "__main__":
    sys.exit(main())
