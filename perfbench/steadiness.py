#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady it is, or
compare two versions of the program.

    python3 perfbench/steadiness.py [--seeds 1-10] [--workloads a,b] [--traced]
        [--json out.json]
    python3 perfbench/steadiness.py --paired <other checkout> [--seeds 1-10] ...

Run from the repository root. For each workload it runs one untraced run
per seed (one after another, never in parallel) and prints, per end-to-end
metric, the median, the first and third quartiles and the spread
(Q3 - Q1) / median next to a third of the metric's bound, plus the load
average seen around the runs. With --traced it adds one traced run per
workload (first seed) and reports the tracing overhead: traced minus
untraced median op_p50_s.

--paired is the way to judge a change: it runs this checkout and another
one (its parent, with the benchmark of its own) on every seed, one right
after the other, and alternates which goes first. The machine's speed
drifts by more than the metrics' bounds between sessions, so medians taken
in two sessions do not compare; paired runs share the drift. It prints,
per metric, each side's median and quartiles, how many pairs this checkout
won, and a verdict: worse than the other by more than the metric's bound;
unresolved, when the other's own spread exceeds the bound; better, when
this checkout won at least nine tenths of the pairs and the medians differ
by more than the other's quartile distance; else within bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one(workload, seed, seconds, trace, root=ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=1000)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed (exit {proc.returncode})")
    info = json.loads(next(ln for ln in lines if ln.startswith("info "))[5:])
    return json.loads(lines[-1]), info


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def paired(bench, other, workloads, seed_list):
    """Alternate this checkout and `other` seed by seed; compare medians."""
    for w in workloads:
        vals = {"this": [], "other": []}
        for k, s in enumerate(seed_list):
            order = [("this", ROOT), ("other", other)]
            for side, root in (order if k % 2 == 0 else order[::-1]):
                result, _ = one(w, s, bench["run_seconds"], 0, root)
                vals[side].append({n: v["value"] for n, v in result["metrics"].items()})
            print(f"{w} seed {s}: " + " ".join(
                f"{n}={vals['this'][-1][n]:.4g}/{vals['other'][-1][n]:.4g}" for n in vals["this"][-1]),
                flush=True)
        print(f"\n| {w} | this: median [Q1, Q3] | other: median [Q1, Q3] | this/other "
              f"| this better | verdict |\n|---|---|---|---|---|---|")
        for m in bench["end_to_end"]:
            n = m["name"]
            a, b = [v[n] for v in vals["this"]], [v[n] for v in vals["other"]]
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(sign * (x - y) < 0 for x, y in zip(a, b))
            (qa1, ma, qa3), (qb1, mb, qb3) = quartiles(a), quartiles(b)
            worse = sign * (ma - mb) / mb
            if worse > m["bound"]:
                verdict = f"worse by {worse:.1%}"
            elif (qb3 - qb1) / mb > m["bound"] and not all(sign * (x - y) < 0 for x in a for y in b):
                verdict = "unresolved (the other's spread exceeds the bound)"
            elif wins >= 0.9 * len(a) and abs(ma - mb) > qb3 - qb1:
                verdict = f"better by {-worse:.1%}"
            else:
                verdict = "within bound"
            print(f"| {n} ({m['unit']}) | {ma:.4g} [{qa1:.4g}, {qa3:.4g}] | {mb:.4g} [{qb1:.4g}, {qb3:.4g}] "
                  f"| {ma / mb:.3f} | {wins}/{len(a)} | {verdict} |")
        print(flush=True)


def quartiles(vals):
    return statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--json")
    ap.add_argument("--paired", metavar="CHECKOUT",
                    help="compare with another checkout, runs alternated seed by seed")
    args = ap.parse_args()
    if args.paired:
        paired(bench, os.path.abspath(args.paired), args.workloads.split(","), seeds(args.seeds))
        return
    report = {}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            result, info = one(w, s, bench["run_seconds"], 0)
            runs.append({"seed": s, "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                         "attempted": result["attempted"], "failed": result["failed"],
                         "loadavg": [info["loadavg_before"][0], info["loadavg_after"][0]],
                         "cpu_probe_s": info["cpu_probe_s"], "op_s": info["op_s"]})
            print(f"{w} seed {s}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items())
                  + f" ops={result['attempted']} load={runs[-1]['loadavg']}"
                  + f" probe={info['cpu_probe_s']:.3f}s", flush=True)
        rows = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            rows[m["name"]] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                               "spread": (q3 - q1) / statistics.median(vals),
                               "bound": m["bound"], "unit": m["unit"]}
        loads = [x for r in runs for x in r["loadavg"]]
        report[w] = {"runs": runs, "metrics": rows, "loadavg_min": min(loads), "loadavg_max": max(loads)}
        if args.traced:
            result, _ = one(w, seeds(args.seeds)[0], bench["run_seconds"], 1)
            traced = result["metrics"]["trace.op_p50_s"]["value"]
            report[w]["tracing_overhead_s"] = traced - rows["op_p50_s"]["median"]
        print(f"\n| {w} | median | Q1 | Q3 | spread | bound/3 |\n|---|---|---|---|---|---|")
        for name, r in rows.items():
            flag = "" if name == "setup_s" or r["spread"] < r["bound"] / 3 else " (!)"
            print(f"| {name} ({r['unit']}) | {r['median']:.4g} | {r['q1']:.4g} | {r['q3']:.4g} "
                  f"| {r['spread']:.3f}{flag} | {r['bound'] / 3:.3f} |")
        probes = sorted(r["cpu_probe_s"] for r in runs)
        print(f"loadavg (1 min) over the runs: {min(loads):.2f}–{max(loads):.2f}; "
              f"cpu probe {probes[0]:.3f}–{probes[-1]:.3f} s")
        if args.traced:
            print(f"tracing overhead (traced − untraced op_p50_s): {report[w]['tracing_overhead_s']:+.3f} s")
        print(flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
