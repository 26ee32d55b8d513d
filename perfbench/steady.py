#!/usr/bin/env python3
"""Steadiness check: runs each workload in two sets of runs, one seed per
run, and prints per end-to-end metric each set's median and quartiles,
the spread (Q3 - Q1) / median, and the gap between the two set medians
in the worse direction, beside the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py                       # 2 sets x 10 runs
    python3 perfbench/steady.py --runs 5 --workloads churn
    python3 perfbench/steady.py --traced --runs 3     # tracing overhead

The benchmark counts as steady when every run is correct, every spread
but that of setup_s is within its bound, every gap is within its bound,
and both sets fail the same share of ops. A spread above a third of its
bound is marked with '*': a change that small in that metric is not told
apart from noise.

With --traced the second set is traced: its runs also print the
end-to-end values they measured, and the gap column is then the tracing
overhead (no verdict is given)."""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed with exit code {r.returncode}")
    res = json.loads(lines[-1])
    traced = next((json.loads(x[len("traced-end-to-end "):]) for x in lines
                   if x.startswith("traced-end-to-end ")), None)
    return {"seed": seed, "wall_s": wall, "result": res, "traced_e2e": traced}


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    runs = {}
    seed = a.seed0
    for s in range(2):
        for w in workloads:
            for _ in range(a.runs):
                r = one_run(w, seed, bench["run_seconds"], 1 if a.traced and s == 1 else 0)
                seed += 1
                runs.setdefault(w, []).append((s, r))
                res = r["result"]
                print(f"# set {s} {w} seed {r['seed']}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} wall={r['wall_s']:.0f}s",
                      file=sys.stderr, flush=True)
    ok = True
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':28} {'bound':>6} " + " ".join(
            f"{'set' + str(s) + ' median [Q1, Q3] spread':>45}" for s in range(2)) + f" {'gap':>7}")
        for name, spec in e2e.items():
            meds = []
            cells = []
            for s in range(2):
                vals = [(r["traced_e2e"] if a.traced and s == 1 else r["result"]["metrics"])[name]["value"]
                        for (ss, r) in runs[w] if ss == s]
                med, q1, q3, spread = summary(vals)
                meds.append(med)
                mark = "*" if spread > spec["bound"] / 3 else " "
                cells.append(f"{med:12.4g} [{q1:10.4g}, {q3:10.4g}] {spread:6.1%}{mark}")
                if name != "setup_s" and spread > spec["bound"]:
                    ok = False
            worse = (meds[1] - meds[0]) / meds[0] * (1 if spec["better"] == "lower" else -1)
            if worse > spec["bound"]:
                ok = False
            print(f"  {name:28} {spec['bound']:6.2f} " + " ".join(f"{c:>45}" for c in cells)
                  + f" {worse:+7.1%}")
        shares = set()
        for s in range(2):
            att = sum(r["result"]["attempted"] for (ss, r) in runs[w] if ss == s)
            fail = sum(r["result"]["failed"] for (ss, r) in runs[w] if ss == s)
            shares.add(fail / att)
            print(f"  set {s}: {fail} of {att} ops failed")
        if len(shares) > 1 or not all(r["result"]["correct"] for (_, r) in runs[w]):
            ok = False
        walls = [r["wall_s"] for (_, r) in runs[w]]
        print(f"  wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if a.traced:
        return 0
    print("\nsteady" if ok else "\nNOT steady (an incorrect run, a spread or gap above its bound, "
          "or failed shares that differ)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
