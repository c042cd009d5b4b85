#!/usr/bin/env python3
"""Steadiness tooling for the benchmark.

Repeat one workload over several seeds and report, per metric, the median,
the quartiles and the spread (q3 - q1) / median against the metric's bound:

    python3 perfbench/steady.py repeat --workload W --runs 10 [--first-seed 1] [--save F]

Compare two saved sets of runs of the same commit (A/A), or of a parent and
a change, metric by metric:

    python3 perfbench/steady.py compare A.json B.json

Run parent and change in alternating order, pair by pair, from two checkouts
(each a directory holding the repository, such as a `git archive` of a
commit), and report each side's median and quartiles and the pairs won:

    python3 perfbench/steady.py ab --parent DIR --change DIR --workload W --pairs 10

Quartiles are `statistics.quantiles(values, n=4)`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        s = json.load(f)
    return s, {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}


def run_once(checkout, workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit("run failed (exit %d): %s" % (p.returncode, p.stderr[-2000:]))
    res = json.loads(lines[-1])
    res["wall_s"] = round(time.time() - t0, 1)
    if not res["correct"]:
        print("\n".join(l for l in lines if l.startswith("FAILED")), file=sys.stderr)
    return res


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def report(runs, metrics):
    names = list(runs[0]["metrics"])
    print("%-36s %12s %12s %12s %8s %7s %7s" % ("metric", "q1", "median", "q3", "spread", "bound", "/bound"))
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs]
        q1, q2, q3, sp = summary(vals)
        b = metrics.get(n, {}).get("bound")
        print("%-36s %12.4f %12.4f %12.4f %7.1f%% %7s %7s" % (
            n, q1, q2, q3, 100 * sp, "%.2f" % b if b else "-", "%.2f" % (sp / b) if b else "-"))
    print("correct in %d of %d runs; %.0f s per run" % (
        sum(r["correct"] for r in runs), len(runs), statistics.mean(r.get("wall_s", 0) for r in runs)))


def cmd_repeat(a):
    s, metrics = spec()
    runs = []
    for i in range(a.runs):
        seed = a.first_seed + i
        r = run_once(ROOT, a.workload, seed, a.seconds or s["run_seconds"], a.trace)
        r["seed"] = seed
        runs.append(r)
        print("seed %d (%.0f s): %s" % (seed, r["wall_s"], {k: round(v["value"], 4) for k, v in r["metrics"].items()}),
              flush=True)
    report(runs, metrics)
    if a.save:
        with open(a.save, "w") as f:
            json.dump({"workload": a.workload, "runs": runs}, f, indent=1)


def cmd_compare(a):
    _, metrics = spec()
    with open(a.first) as f:
        x = json.load(f)
    with open(a.second) as f:
        y = json.load(f)
    print("workload %s: %d runs against %d" % (x["workload"], len(x["runs"]), len(y["runs"])))
    print("%-36s %12s %12s %8s %7s  %s" % ("metric", "first", "second", "change", "bound", "verdict"))
    for n in x["runs"][0]["metrics"]:
        m = metrics.get(n, {})
        xs = [r["metrics"][n]["value"] for r in x["runs"]]
        ys = [r["metrics"][n]["value"] for r in y["runs"]]
        mx, my = statistics.median(xs), statistics.median(ys)
        worse = (my - mx) / mx if m.get("better") == "lower" else (mx - my) / mx
        b = m.get("bound")
        if b is None:
            verdict = "-"
        elif max(summary(xs)[3], summary(ys)[3]) > b:
            verdict = "unresolved (spread above bound)"
        else:
            verdict = "regressed" if worse > b else "within bound"
        print("%-36s %12.4f %12.4f %7.1f%% %7s  %s" % (n, mx, my, -100 * worse, b or "-", verdict))


def cmd_ab(a):
    s, metrics = spec()
    sides = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(getattr(a, side), a.workload, seed, a.seconds or s["run_seconds"], 0)
            sides[side].append(r)
        print("pair %d (seed %d, %s first) done" % (i, seed, order[0]), flush=True)
    for n in sides["parent"][0]["metrics"]:
        m = metrics.get(n, {})
        p = [r["metrics"][n]["value"] for r in sides["parent"]]
        c = [r["metrics"][n]["value"] for r in sides["change"]]
        lower = m.get("better") == "lower"
        wins = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        pq, cq = summary(p), summary(c)
        print("%-30s parent %.4f [%.4f, %.4f]  change %.4f [%.4f, %.4f]  change wins %d/%d" % (
            n, pq[1], pq[0], pq[2], cq[1], cq[0], cq[2], wins, len(p)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("repeat")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--save")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    b = sub.add_parser("ab")
    b.add_argument("--parent", required=True)
    b.add_argument("--change", required=True)
    b.add_argument("--workload", required=True)
    b.add_argument("--pairs", type=int, default=10)
    b.add_argument("--first-seed", type=int, default=1)
    b.add_argument("--seconds", type=int)
    a = ap.parse_args()
    {"repeat": cmd_repeat, "compare": cmd_compare, "ab": cmd_ab}[a.cmd](a)


if __name__ == "__main__":
    main()
